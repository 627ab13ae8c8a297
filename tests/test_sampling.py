"""Sampler contract tests (FIXTURES.md §B.1): weight columns, determinism,
per-stratum floors, and DataFrame-path == SQL-path equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snappy_aqp_spark.sampling import sample_cte_stages, stratified_sample
from snappy_aqp_spark.sampling.sql import stages_to_sql
from snappy_aqp_spark.specs import (STRATA_SAMPLED_COL, STRATA_TOTAL_COL,
                                    WEIGHT_COL, SampleSpec)
from tests.conftest import SF_SMALL, compare_frames

SPECS = {
    "hash": SampleSpec("lineitem", ("l_orderkey", "l_linenumber"),
                       ("l_returnflag", "l_linestatus"), "hash", 0.05, seed=42),
    "reservoir": SampleSpec("lineitem", ("l_orderkey", "l_linenumber"),
                            ("l_returnflag", "l_linestatus"), "reservoir",
                            0.05, reservoir_size=100, seed=42),
    "fraction": SampleSpec("lineitem", ("l_orderkey", "l_linenumber"),
                           ("l_returnflag", "l_linestatus"), "fraction",
                           0.02, reservoir_size=50, seed=42),
    # seeded Algorithm-R semantics: scrambled-priority reservoir
    "reservoir_rand": SampleSpec("lineitem", ("l_orderkey", "l_linenumber"),
                                 ("l_returnflag", "l_linestatus"),
                                 "reservoir_rand", 0.05,
                                 reservoir_size=100, seed=42),
}


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")


@pytest.mark.parametrize("method", sorted(SPECS))
def test_weight_contract(spark, lineitem, method):
    spec = SPECS[method]
    s = stratified_sample(lineitem, spec)
    assert WEIGHT_COL in s.columns
    bad = s.where((F.col(WEIGHT_COL) <= 0) |
                  (F.col(STRATA_SAMPLED_COL) <= 0) |
                  (F.col(STRATA_TOTAL_COL) < F.col(STRATA_SAMPLED_COL))).count()
    assert bad == 0
    # weight == total/sampled exactly
    bad2 = s.where(F.col(WEIGHT_COL) !=
                   F.col(STRATA_TOTAL_COL).cast("double") /
                   F.col(STRATA_SAMPLED_COL).cast("double")).count()
    assert bad2 == 0


@pytest.mark.parametrize("method", sorted(SPECS))
def test_deterministic(spark, lineitem, method):
    spec = SPECS[method]
    a = stratified_sample(lineitem, spec).toPandas()
    b = stratified_sample(lineitem, spec).toPandas()
    cols = sorted(a.columns)
    a = a[cols].sort_values(cols).reset_index(drop=True)
    b = b[cols].sort_values(cols).reset_index(drop=True)
    assert a.equals(b)


def test_reservoir_size_cap(spark, lineitem):
    spec = SPECS["reservoir"]
    s = stratified_sample(lineitem, spec)
    per = s.groupBy("l_returnflag", "l_linestatus").count().toPandas()
    assert (per["count"] <= spec.reservoir_size).all()


def test_fraction_floor(spark, lineitem):
    spec = SPECS["fraction"]
    s = stratified_sample(lineitem, spec)
    per = s.groupBy("l_returnflag", "l_linestatus").count().toPandas()
    # every stratum has at least min(reservoir, stratum size) rows
    assert (per["count"] >= 50).all() or len(per) == 0


@pytest.mark.parametrize("method", sorted(SPECS))
def test_dataframe_path_equals_sql_path(spark, duck, lineitem, method):
    """The scale-oriented DataFrame sampler must produce exactly the rows
    of the window-based SQL definition (DuckDB replay)."""
    spec = SPECS[method]
    df = stratified_sample(lineitem, spec)
    sql = stages_to_sql(sample_cte_stages(spec), "SELECT * FROM __sample")
    compare_frames(df, duck.sql(sql))


def test_hash_sampler_scales_without_window(spark, lineitem):
    """hash method must not contain a window exchange (scale contract)."""
    s = stratified_sample(lineitem, SPECS["hash"])
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


@pytest.mark.parametrize("method", sorted(SPECS))
def test_partitioning_invariance(spark, lineitem, method):
    """The reference ships separate partitioned / non-partitioned accuracy
    suites (SamplingPartitionedAccuracySuite, SamplingNonPartitioned*)
    because its node-pinned reservoirs CAN differ by layout; our contract
    is stronger — the sample is a pure function of row keys, so ANY
    physical layout yields the byte-identical sample."""
    spec = SPECS[method]
    base = stratified_sample(lineitem, spec).toPandas()
    cols = sorted(base.columns)
    base = base[cols].sort_values(cols).reset_index(drop=True)
    for layout in (lineitem.repartition(13),
                   lineitem.repartition(3, "l_returnflag"),
                   lineitem.coalesce(1),
                   lineitem.orderBy(F.col("l_extendedprice").desc())):
        alt = stratified_sample(layout, spec).toPandas()
        alt = alt[cols].sort_values(cols).reset_index(drop=True)
        assert base.equals(alt), f"layout changed the {method} sample"


# one hash sample spec over the same lineitem rows written as one parquet
# file and as four; the queries cover every estimator and HAC path that
# reads the cached sample (integer measures, so exact reroutes over either
# layout sum to the same doubles)
_LAYOUT_DDL = ("CREATE SAMPLE TABLE {name} ON lineitem OPTIONS("
               "qcs 'l_returnflag,l_linestatus', fraction '{fraction}', "
               "method 'hash', seed '42'{extra})")
_LAYOUT_CF = ("SELECT l_returnflag, SUM(l_quantity) AS sq, "
              "AVG(l_quantity) AS aq, COUNT(*) AS c, "
              "relative_error(sq) AS re, lower_bound(c) AS lb "
              "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag "
              "WITH ERROR 0.5")
_LAYOUT_QUERIES = {
    "closed_form": _LAYOUT_CF,
    "bootstrap": ("SELECT l_returnflag, AVG(l_quantity) AS aq, "
                  "lower_bound(aq) AS lb, upper_bound(aq) AS ub "
                  "FROM lineitem WHERE l_quantity > 10 "
                  "GROUP BY l_returnflag ORDER BY l_returnflag "
                  "WITH ERROR 0.5"),
    "local_omit": ("SELECT l_returnflag, l_linestatus, "
                   "SUM(l_quantity) AS sq, relative_error(sq) AS re "
                   "FROM lineitem WHERE l_discount < 0.05 "
                   "GROUP BY l_returnflag, l_linestatus "
                   "ORDER BY l_returnflag, l_linestatus "
                   "WITH ERROR 0.05 BEHAVIOR 'local_omit'"),
    "partial_run_on_base_table": (
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sq, "
        "relative_error(sq) AS re FROM lineitem WHERE l_quantity >= 3 "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus "
        "WITH ERROR 0.001 BEHAVIOR 'partial_run_on_base_table'"),
}


@pytest.fixture(scope="module")
def layout_bases(lineitem, tmp_path_factory):
    """lineitem written as one parquet file (one partition) and as four."""
    root = tmp_path_factory.mktemp("layouts")
    for name, df in (("one", lineitem.coalesce(1)),
                     ("four", lineitem.repartition(4, "l_orderkey"))):
        df.write.parquet(str(root / name))
    return {name: str(root / name) for name in ("one", "four")}


def _layout_sessions(spark, layout_bases, tag):
    from snappy_aqp_spark.api import AQPSession
    out = {}
    for name, path in layout_bases.items():
        aqp = AQPSession(spark, error=0.2, confidence=0.95,
                         behavior="do_nothing",
                         data_token=f"{tag}-{name}")
        aqp.register_table("lineitem", spark.read.parquet(path))
        out[name] = aqp
    return out


def _jobs_and_plan(spark, df, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the query's own operators: what follows the first InMemoryRelation
    # is the cached sample's build plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    return (len(sc.statusTracker().getJobIdsForGroup(group)),
            plan.split("InMemoryRelation")[0])


def test_one_partition_sample_answers_match_and_run_shuffle_free(
        spark, layout_bases):
    """A sample of a one-partition base is cached as one partition: its
    closed-form plan has no exchange and runs as one Spark job, while the
    four-file base keeps the shuffled plan. Every route answers the same,
    bit for bit (float reprs compared, NaN included)."""
    layout_sessions = _layout_sessions(spark, layout_bases, "layout")
    assert (layout_sessions["one"].tables["lineitem"].rdd
            .getNumPartitions() == 1)
    assert (layout_sessions["four"].tables["lineitem"].rdd
            .getNumPartitions() == 4)
    for name, aqp in layout_sessions.items():
        aqp.sql(_LAYOUT_DDL.format(name=f"layout_{name}", fraction=0.1,
                                   extra=""))
    one, four = layout_sessions["one"], layout_sessions["four"]
    assert one.route(_LAYOUT_QUERIES["bootstrap"]).estimator == "bootstrap"
    for kind, q in _LAYOUT_QUERIES.items():
        a, b = one.sql(q).collect(), four.sql(q).collect()
        assert a and repr(a) == repr(b), kind

    jobs, plan = _jobs_and_plan(spark, one.sql(_LAYOUT_CF), "layout-one")
    assert "Exchange" not in plan, plan
    assert jobs == 1
    jobs, plan = _jobs_and_plan(spark, four.sql(_LAYOUT_CF), "layout-four")
    assert "Exchange hashpartitioning" in plan, plan
    assert jobs > 1


def _cached_rdd_ids(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_sample_blocks_freed_by_drop_invalidate_and_rebuild(
        spark, layout_bases):
    """The frame a sample build persists (coalesced for the one-file base)
    is the one the temp view and the sample cache hold: dropping the
    table, invalidating its base and rebuilding it each free its blocks."""
    from snappy_aqp_spark.plans.approx_query import invalidate_base_table
    layout_sessions = _layout_sessions(spark, layout_bases, "lifetime")

    def build(extra=""):
        before = _cached_rdd_ids(spark)
        for name, aqp in layout_sessions.items():
            # its own fraction: Spark serves a persist of a plan it has
            # cached already from the existing blocks
            aqp.sql(_LAYOUT_DDL.format(name=f"life_{name}", fraction=0.2,
                                       extra=extra))
        new = _cached_rdd_ids(spark) - before
        assert len(new) == 2, new
        return new

    new = build()
    for name, aqp in layout_sessions.items():
        aqp.drop_sample_table(f"life_{name}")
    assert not new & _cached_rdd_ids(spark)

    new = build()
    for aqp in layout_sessions.values():
        invalidate_base_table("lineitem", aqp._token)
    assert not new & _cached_rdd_ids(spark)

    new = build()
    rebuilt = build(extra=", rebuild 'true'")
    assert not new & _cached_rdd_ids(spark)
    for name, aqp in layout_sessions.items():
        aqp.drop_sample_table(f"life_{name}")
    assert not rebuilt & _cached_rdd_ids(spark)


def test_weighted_sample_quantile_tracks_truth(spark, duck):
    """the HT-weighted sample quantile lands near the exact population
    quantile (5% sample, lineitem prices) and replays bit-exactly on the
    DuckDB oracle."""
    from snappy_aqp_spark.fixtures import LI_HASH
    from snappy_aqp_spark.operators.sample_stats import (
        approx_quantile, approx_quantile_oracle)
    from snappy_aqp_spark.plans.approx_query import get_sample, load_tables
    from snappy_aqp_spark.sampling.sql import sample_cte_stages
    from tests.conftest import SF_SMALL, compare_frames
    tables = load_tables(spark, SF_SMALL, ("lineitem",))
    sample = get_sample(tables["lineitem"], LI_HASH, SF_SMALL)
    est = approx_quantile(sample, "l_extendedprice",
                          key_cols=("l_orderkey", "l_linenumber"))
    compare_frames(est, duck.sql(approx_quantile_oracle(
        sample_cte_stages(LI_HASH), "l_extendedprice",
        key_cols=("l_orderkey", "l_linenumber"))))
    got = {r["q"]: r["est"] for r in est.collect()}
    for q in (0.5, 0.9):
        exact = duck.sql(
            f"SELECT quantile_disc(l_extendedprice, {q}) v FROM lineitem"
        ).df().iloc[0, 0]
        assert abs(got[q] - exact) / exact < 0.15, (q, got[q], exact)


def test_session_approx_quantile_surface(spark):
    """session wrapper routes through the registered sample's spec (keys
    for deterministic tie-break come from the catalog, not the caller)."""
    from snappy_aqp_spark.api import AQPSession
    s = AQPSession(spark, data_token="aq-surface")
    s.load_tables(SF_SMALL, ["lineitem"])
    s.sql("CREATE SAMPLE TABLE li_aq ON lineitem OPTIONS("
          "qcs 'l_returnflag', fraction '0.1', method 'hash', seed '42')")
    rows = s.approx_quantile("li_aq", "l_extendedprice").collect()
    assert [r["q"] for r in rows] == [0.5, 0.9, 0.99]
    assert all(rows[i]["est"] <= rows[i + 1]["est"] for i in range(2))
    grouped = s.approx_quantile("li_aq", "l_extendedprice",
                                group_by="l_returnflag").collect()
    assert len(grouped) == 9 and {r["g"] for r in grouped} == {"A", "N", "R"}


@pytest.mark.slow
def test_multi_sample_single_scan_build_matches_per_spec(spark, tmp_path):
    """multi_hash_sample_build (two scans for N samples) must be row- and
    weight-identical to building each sample separately, and the built
    samples must route + persist like any other sample table."""
    import pandas as pd

    from snappy_aqp_spark.api import AQPSession
    from snappy_aqp_spark.sampling.samplers import read_sample_sidecar

    aqp = AQPSession(spark, error=0.2, confidence=0.95,
                     behavior="do_nothing", data_token="multibuild")
    aqp.load_tables(SF_SMALL, ("lineitem",))
    li = aqp.tables["lineitem"]
    keys = ("l_orderkey", "l_linenumber")
    specs = [
        ("mb_rf", SampleSpec("lineitem", keys, ("l_returnflag",),
                             method="hash", fraction=0.2, seed=7)),
        ("mb_ls", SampleSpec("lineitem", keys, ("l_linestatus",),
                             method="hash", fraction=0.1, seed=11)),
        # expression QCS + a base filter, different seed
        ("mb_yr", SampleSpec("lineitem", keys, ("year(l_shipdate)",),
                             method="hash", fraction=0.3, seed=13,
                             base_filter="l_quantity > 5")),
    ]
    built = aqp.create_sample_tables(specs, str(tmp_path / "multi"))
    for name, spec in specs:
        solo = stratified_sample(li, spec).toPandas()
        multi = built[name].toPandas()
        cols = sorted(solo.columns)
        assert sorted(multi.columns) == cols
        a = solo[cols].sort_values(cols).reset_index(drop=True)
        b = multi[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)
        # sidecar rides with each partition dir (attachable later)
        n2, spec2, _ = read_sample_sidecar(
            str(tmp_path / "multi" / f"__sample={name}"))
        assert n2 == name and spec2 == spec
    # the registered samples route approx queries (catalog pick by QCS)
    est = aqp.sql("SELECT l_returnflag, SUM(l_quantity) AS s FROM lineitem "
                  "GROUP BY l_returnflag WITH ERROR").collect()
    assert len(est) == 3
    an = aqp.analyze_sql("SELECT l_returnflag, SUM(l_quantity) AS s "
                         "FROM lineitem GROUP BY l_returnflag WITH ERROR")
    assert an.spec is not None                    # routed, not exact
    # a fresh session re-attaches from the sidecars alone
    a2 = AQPSession(spark, error=0.2, confidence=0.95,
                    behavior="do_nothing", data_token="multibuild2")
    a2.load_tables(SF_SMALL, ("lineitem",))
    found = a2.discover_samples(str(tmp_path / "multi"))
    assert set(found) >= {"mb_rf", "mb_ls", "mb_yr"}


@pytest.mark.slow
def test_multi_sample_build_ranked_methods_match_per_spec(spark, tmp_path):
    """The generalized multi-build (any hash/ranked mix in one fan-out)
    must equal the per-spec builders exactly — including the reference's
    canonical shape: fraction-with-floor and reservoir specs with
    different QCS (create_and_load_NYCTaxiCol_table.sql:17-35 builds
    three such samples over one table)."""
    import pandas as pd

    from snappy_aqp_spark.api import AQPSession

    aqp = AQPSession(spark, error=0.2, confidence=0.95,
                     behavior="do_nothing", data_token="multibuild-ranked")
    aqp.load_tables(SF_SMALL, ("lineitem",))
    li = aqp.tables["lineitem"]
    keys = ("l_orderkey", "l_linenumber")
    specs = [
        # the NYC shape: fraction + per-stratum floor
        ("mr_frac", SampleSpec("lineitem", keys, ("l_returnflag",),
                               method="fraction", fraction=0.05,
                               reservoir_size=25, seed=42)),
        # pure reservoir, different QCS + seed
        ("mr_res", SampleSpec("lineitem", keys, ("l_linestatus",),
                              method="reservoir", reservoir_size=40,
                              seed=9)),
        # seeded Algorithm-R variant over an expression QCS
        ("mr_resr", SampleSpec("lineitem", keys, ("year(l_shipdate)",),
                               method="reservoir_rand", reservoir_size=15,
                               seed=3)),
        # hash spec mixed into the same fan-out
        ("mr_hash", SampleSpec("lineitem", keys, ("l_shipdate",),
                               method="hash", fraction=0.1, seed=5)),
    ]
    built = aqp.create_sample_tables(specs, str(tmp_path / "mr"))
    for name, spec in specs:
        solo = stratified_sample(li, spec).toPandas()
        multi = built[name].toPandas()
        cols = sorted(solo.columns)
        assert sorted(multi.columns) == cols, name
        a = solo[cols].sort_values(cols).reset_index(drop=True)
        b = multi[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b, obj=name)


@pytest.mark.slow
def test_multi_sample_build_prefilter_and_fallback_branches(spark, tmp_path,
                                                            monkeypatch):
    """Large strata (> _PREFILTER_MIN_STRATUM) exercise the oversampled
    candidate prefilter; forcing _OVERSAMPLE=0 starves every stratum of
    candidates and exercises the keep-whole-stratum fallback. Both
    branches must stay identical between the shared fan-out build and
    the per-spec builder."""
    import pandas as pd

    from snappy_aqp_spark.api import AQPSession
    from snappy_aqp_spark.plans import approx_query as aq
    from snappy_aqp_spark.sampling import samplers as S

    df = spark.range(20000).selectExpr(
        "id AS k1", "id % 2 AS grp", "id * 3 AS v")
    aqp = AQPSession(spark, error=0.2, confidence=0.95,
                     behavior="do_nothing", data_token="multibuild-pf")
    aqp.register_table("pf_base", df)
    spec = SampleSpec("pf_base", ("k1",), ("grp",),
                      method="reservoir", reservoir_size=50, seed=4)
    for label, oversample in (("prefilter-ok", S._OVERSAMPLE),
                              ("fallback", 0)):
        monkeypatch.setattr(S, "_OVERSAMPLE", oversample)
        solo = stratified_sample(df, spec).toPandas()
        aq._SAMPLE_CACHE.clear()
        built = aqp.create_sample_tables(
            [("pf_s", spec)], str(tmp_path / f"pf_{label}"))
        multi = built["pf_s"].toPandas()
        cols = sorted(solo.columns)
        a = solo[cols].sort_values(cols).reset_index(drop=True)
        b = multi[cols].sort_values(cols).reset_index(drop=True)
        assert len(a) == 100, (label, len(a))      # 2 strata x k=50
        pd.testing.assert_frame_equal(a, b, obj=label)


def test_multi_sample_build_null_strata(spark, tmp_path):
    """NULL QCS values are real strata (the sentinel-keyed composite must
    group and weight them exactly like the per-spec null-safe joins)."""
    import pandas as pd

    from snappy_aqp_spark.api import AQPSession

    df = spark.range(3000).selectExpr(
        "id AS k1",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(id % 3 AS STRING) END "
        "AS grp", "id * 7 AS v")
    aqp = AQPSession(spark, error=0.2, confidence=0.95,
                     behavior="do_nothing", data_token="multibuild-null")
    aqp.register_table("nul_base", df)
    specs = [
        ("nul_h", SampleSpec("nul_base", ("k1",), ("grp",),
                             method="hash", fraction=0.2, seed=2)),
        ("nul_r", SampleSpec("nul_base", ("k1",), ("grp",),
                             method="reservoir", reservoir_size=20,
                             seed=6)),
    ]
    built = aqp.create_sample_tables(specs, str(tmp_path / "nul"))
    for name, spec in specs:
        solo = stratified_sample(df, spec).toPandas()
        multi = built[name].toPandas()
        cols = sorted(solo.columns)
        a = solo[cols].sort_values(cols).reset_index(drop=True)
        b = multi[cols].sort_values(cols).reset_index(drop=True)
        # the NULL stratum is present and weighted on both sides
        assert a["grp"].isna().any() and b["grp"].isna().any(), name
        pd.testing.assert_frame_equal(a, b, obj=name)


@pytest.mark.slow
def test_multi_sample_build_error_limit_matches_per_spec(spark, tmp_path):
    """error_limit specs ride the shared fan-out: the quantized measure
    travels inside the scan-1 explode, n_req derives per stratum on the
    tiny counts relation, and the shared window ranks with the
    per-stratum k — identical rows and weights to the per-spec CLT
    builder, alongside specs of every other method in one build."""
    import pandas as pd

    from snappy_aqp_spark.api import AQPSession

    aqp = AQPSession(spark, error=0.2, confidence=0.95,
                     behavior="do_nothing", data_token="multibuild-el")
    aqp.load_tables(SF_SMALL, ("lineitem",))
    li = aqp.tables["lineitem"]
    keys = ("l_orderkey", "l_linenumber")
    specs = [
        ("mel_el", SampleSpec("lineitem", keys, ("l_returnflag",),
                              method="error_limit", reservoir_size=30,
                              seed=42, error_limit_col="l_extendedprice",
                              error_limit_pct=0.05,
                              error_limit_conf=0.95,
                              error_limit_max_abs=2.0 ** 20)),
        ("mel_res", SampleSpec("lineitem", keys, ("l_linestatus",),
                               method="reservoir", reservoir_size=25,
                               seed=9)),
        ("mel_hash", SampleSpec("lineitem", keys, ("l_shipdate",),
                                method="hash", fraction=0.1, seed=5)),
    ]
    built = aqp.create_sample_tables(specs, str(tmp_path / "mel"))
    for name, spec in specs:
        solo = stratified_sample(li, spec).toPandas()
        multi = built[name].toPandas()
        cols = sorted(solo.columns)
        a = solo[cols].sort_values(cols).reset_index(drop=True)
        b = multi[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b, obj=name)
    # the error-limit sample actually sized strata adaptively (not all k)
    el = built["mel_el"].toPandas()
    assert el["sampler_strata_sampled"].nunique() >= 2


@pytest.mark.slow
def test_run_script_batches_adjacent_sample_creates(spark, monkeypatch):
    """run_script builds ADJACENT CREATE SAMPLE TABLE statements over one
    base through a single fan-out (the reference's NYC script shape:
    three samples of one table back to back), with results identical to
    statement-by-statement execution."""
    from snappy_aqp_spark import api as api_mod
    from snappy_aqp_spark.api import AQPSession
    from snappy_aqp_spark.sampling import samplers as S

    script = """
    -- three samples of one base, back to back (NYC script shape)
    CREATE SAMPLE TABLE rs_a ON lineitem OPTIONS (qcs 'l_returnflag',
        fraction '0.05', method 'fraction', strataReservoirSize '20',
        seed '42');
    CREATE SAMPLE TABLE rs_b ON lineitem OPTIONS (qcs 'l_linestatus',
        method 'reservoir', strataReservoirSize '30', seed '7');
    CREATE SAMPLE TABLE rs_c ON lineitem OPTIONS (qcs 'l_suppkey',
        fraction '0.1', method 'hash', seed '5');
    SELECT l_returnflag, SUM(l_quantity) AS sq FROM lineitem
        GROUP BY l_returnflag ORDER BY l_returnflag WITH ERROR;
    """
    calls = {"multi": 0}
    orig = S.multi_sample_build

    def counting(*a, **kw):
        calls["multi"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(S, "multi_sample_build", counting)
    a1 = AQPSession(spark, error=0.2, confidence=0.95,
                    behavior="do_nothing", data_token="script-batched")
    a1.load_tables(SF_SMALL, ("lineitem",))
    res = a1.run_script(script)
    assert calls["multi"] == 1                  # ONE fan-out for 3 creates
    assert len(res) == 4                        # one result per statement
    # statement-by-statement control session
    a2 = AQPSession(spark, error=0.2, confidence=0.95,
                    behavior="do_nothing", data_token="script-control")
    a2.load_tables(SF_SMALL, ("lineitem",))
    ctl = a2.run_script(script, batch_sample_builds=False)
    assert calls["multi"] == 1                  # control did NOT batch
    import pandas as pd
    for i, name in enumerate(("rs_a", "rs_b", "rs_c")):
        cols = sorted(res[i].columns)
        x = res[i].toPandas()[cols].sort_values(cols).reset_index(drop=True)
        y = ctl[i].toPandas()[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(x, y, obj=name)
    pd.testing.assert_frame_equal(res[3].toPandas(), ctl[3].toPandas())


@pytest.mark.slow
def test_multi_sample_build_empty_spec_gets_valid_empty_sample(spark,
                                                               tmp_path):
    """A spec whose sample is empty (restrictive base_filter) must still
    produce a readable partition + sidecar from the fan-out (round-8
    ADVICE: the partitioned write emits no directory for it), identical
    to what the per-spec path would persist: a valid empty parquet."""
    from snappy_aqp_spark.api import AQPSession
    from snappy_aqp_spark.sampling.samplers import read_sample_sidecar

    aqp = AQPSession(spark, error=0.2, confidence=0.95,
                     behavior="do_nothing", data_token="multiempty")
    aqp.load_tables(SF_SMALL, ("lineitem",))
    keys = ("l_orderkey", "l_linenumber")
    specs = [
        ("me_ok", SampleSpec("lineitem", keys, ("l_returnflag",),
                             method="hash", fraction=0.2, seed=7)),
        # no lineitem has negative quantity: zero rows survive
        ("me_empty", SampleSpec("lineitem", keys, ("l_linestatus",),
                                method="hash", fraction=0.5, seed=11,
                                base_filter="l_quantity < 0")),
    ]
    built = aqp.create_sample_tables(specs, str(tmp_path / "me"))
    assert built["me_ok"].count() > 0
    assert built["me_empty"].count() == 0
    # schema carries the hidden sample columns even when empty
    cols = set(built["me_empty"].columns)
    assert {"snappy_sampler_weightage"} & cols or len(cols) > 3
    # the sidecar landed and a fresh session can re-attach both
    n2, spec2, _ = read_sample_sidecar(str(tmp_path / "me" /
                                           "__sample=me_empty"))
    assert n2 == "me_empty" and spec2 == specs[1][1]
    a2 = AQPSession(spark, error=0.2, confidence=0.95,
                    behavior="do_nothing", data_token="multiempty2")
    a2.load_tables(SF_SMALL, ("lineitem",))
    found = a2.discover_samples(str(tmp_path / "me"))
    assert set(found) >= {"me_ok", "me_empty"}


@pytest.mark.slow
def test_run_script_nyc_shape_drop_interleave_still_batches(spark,
                                                            monkeypatch):
    """The reference's canonical NYC script interleaves DROP TABLE IF
    EXISTS between its CREATE SAMPLE TABLEs — drops of tables unrelated
    to the pending batch must NOT break adjacency (round-8 ADVICE), so
    the three creates still build through ONE fan-out, with results
    identical to unbatched execution."""
    import pandas as pd
    from snappy_aqp_spark.api import AQPSession
    from snappy_aqp_spark.sampling import samplers as S

    script = """
    DROP TABLE IF EXISTS ny_a;
    CREATE SAMPLE TABLE ny_a ON lineitem OPTIONS (qcs 'l_returnflag',
        fraction '0.05', method 'hash', seed '42');
    DROP TABLE IF EXISTS ny_b;
    CREATE SAMPLE TABLE ny_b ON lineitem OPTIONS (qcs 'l_linestatus',
        fraction '0.1', method 'hash', seed '7');
    DROP TABLE IF EXISTS ny_c;
    -- NOTE: qcs must be a fan-out-safe type (int/string/date/bool);
    -- a TIMESTAMP qcs like l_shipdate correctly falls back to a
    -- per-spec build and would split the batch (see the type-gate test)
    CREATE SAMPLE TABLE ny_c ON lineitem OPTIONS (qcs 'l_suppkey',
        fraction '0.1', method 'hash', seed '5');
    """
    calls = {"multi": 0}
    orig = S.multi_sample_build

    def counting(*a, **kw):
        calls["multi"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(S, "multi_sample_build", counting)
    a1 = AQPSession(spark, error=0.2, confidence=0.95,
                    behavior="do_nothing", data_token="nyc-batched")
    a1.load_tables(SF_SMALL, ("lineitem",))
    res = a1.run_script(script)
    assert calls["multi"] == 1                  # drops did not split it
    assert len(res) == 6
    a2 = AQPSession(spark, error=0.2, confidence=0.95,
                    behavior="do_nothing", data_token="nyc-control")
    a2.load_tables(SF_SMALL, ("lineitem",))
    ctl = a2.run_script(script, batch_sample_builds=False)
    for i in (1, 3, 5):                         # the CREATE results
        cols = sorted(res[i].columns)
        x = res[i].toPandas()[cols].sort_values(cols).reset_index(drop=True)
        y = ctl[i].toPandas()[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(x, y)
    # a drop that TOUCHES the batch flushes first: create-then-drop ends
    # with the table gone
    a1.run_script("""
    CREATE SAMPLE TABLE ny_d ON lineitem OPTIONS (qcs 'l_returnflag',
        fraction '0.05', method 'hash', seed '9');
    DROP TABLE IF EXISTS ny_d;
    """)
    assert "ny_d" not in a1.catalog.samples


@pytest.mark.slow
def test_run_script_drop_of_filter_referenced_table_flushes(spark):
    """round-8 ADVICE: a DROP whose target appears inside a pending
    spec's AS-select WHERE (an IN-subquery source) must flush the batch
    first — the subquery reads that table at build time, so deferring the
    CREATE past the DROP would diverge from (or fail against)
    statement-by-statement execution."""
    import pandas as pd
    from snappy_aqp_spark.api import AQPSession

    script = """
    CREATE SAMPLE TABLE adv_a OPTIONS (qcs 'l_returnflag',
        fraction '0.2', method 'hash', seed '11')
        AS SELECT * FROM lineitem
        WHERE l_orderkey IN (SELECT k FROM adv_keep);
    DROP TABLE IF EXISTS adv_keep;
    CREATE SAMPLE TABLE adv_b ON lineitem OPTIONS (qcs 'l_linestatus',
        fraction '0.1', method 'hash', seed '12');
    """

    def run(token: str, batched: bool):
        aqp = AQPSession(spark, error=0.2, confidence=0.95,
                         behavior="do_nothing", data_token=token)
        aqp.load_tables(SF_SMALL, ("lineitem",))
        aqp.register_table("adv_keep", spark.sql(
            "SELECT CAST(id * 3 AS BIGINT) AS k FROM range(200)"))
        res = aqp.run_script(script, batch_sample_builds=batched)
        out = []
        for r in (res[0], res[2]):
            cols = sorted(r.columns)
            out.append(r.toPandas()[cols].sort_values(cols)
                       .reset_index(drop=True))
        return out

    for a, b in zip(run("advflush-b", True), run("advflush-c", False)):
        pd.testing.assert_frame_equal(a, b)


@pytest.mark.slow
def test_run_script_forwards_rebuild(spark):
    """A pathless ``CREATE ... OPTIONS(rebuild 'true')`` through
    run_script must actually re-sample (round-8 ADVICE: the batching path
    dropped the option and reused the cached sample)."""
    from snappy_aqp_spark.api import AQPSession

    aqp = AQPSession(spark, error=0.2, confidence=0.95,
                     behavior="do_nothing", data_token="script-rebuild")
    aqp.load_tables(SF_SMALL, ("lineitem",))
    create = ("CREATE SAMPLE TABLE rb_s ON lineitem OPTIONS ("
              "qcs 'l_returnflag', fraction '0.2', method 'hash', "
              "seed '42'{extra});")
    [df1] = aqp.run_script(create.format(extra=""))
    tot1 = df1.toPandas()["sampler_strata_total"].max()
    # the base relation shrinks under the same name/session token: only a
    # REBUILD sees the change (the sample cache is content-keyed by spec)
    aqp.tables["lineitem"] = aqp.tables["lineitem"].where("l_quantity > 25")
    [df2] = aqp.run_script(create.format(extra=""))
    assert df2.toPandas()["sampler_strata_total"].max() == tot1  # cached
    [df3] = aqp.run_script(create.format(extra=", rebuild 'true'"))
    tot3 = df3.toPandas()["sampler_strata_total"].max()
    assert tot3 < tot1                         # actually re-sampled


@pytest.mark.slow
def test_multi_sample_build_type_gates_stratum_identity(spark, tmp_path):
    """The fan-out keys strata on string-cast QCS tuples, injective only
    for int/string/date/boolean — a DOUBLE QCS (-0.0 and 0.0 group
    together natively but cast to distinct strings) or TIMESTAMP QCS
    must fall back to the per-spec build so multi-build stays
    row- and weight-identical to stratified_sample (round-8 VERDICT #2)."""
    import datetime

    import pandas as pd
    from snappy_aqp_spark.sampling.samplers import (multi_sample_build,
                                                    stratified_sample)

    rows = []
    for i in range(400):
        rows.append((
            i,
            # doubles with BOTH zero signs in the same stratum
            [-0.0, 0.0, 1.5, 2.5][i % 4],
            datetime.datetime(2024, 1, 1 + i % 5, 12, 30, i % 60),
            ["x", "y"][i % 2]))
    df = spark.createDataFrame(
        rows, "k long, d double, ts timestamp, s string")
    specs = [
        ("tg_d", SampleSpec("t", ("k",), ("d",),
                            method="hash", fraction=0.5, seed=3)),
        ("tg_ts", SampleSpec("t", ("k",), ("ts",),
                             method="fraction", fraction=0.3, seed=5,
                             reservoir_size=10)),
        # a safe spec rides the fan-out alongside the fallbacks
        ("tg_s", SampleSpec("t", ("k",), ("s",),
                            method="hash", fraction=0.4, seed=7)),
    ]
    built = multi_sample_build(spark, df, specs, str(tmp_path / "tg"))
    for name, sp in specs:
        got = spark.read.parquet(built[name]).toPandas()
        want = stratified_sample(df, sp).toPandas()
        cols = sorted(want.columns)
        assert sorted(got.columns) == cols, name
        a = got[cols].sort_values(cols).reset_index(drop=True)
        b = want[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b, obj=name)
    # the double spec's -0.0/0.0 rows share ONE stratum (native identity)
    dsm = spark.read.parquet(built["tg_d"]).toPandas()
    zero = dsm[dsm["d"] == 0.0]
    if len(zero):
        assert zero["sampler_strata_total"].nunique() == 1
        assert (zero["sampler_strata_total"] == 200).all()
