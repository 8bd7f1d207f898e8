"""Profiler tier (operators/profiler.py): every type class — including
the DATE and TIMESTAMP_NTZ columns whose BIGINT casts used to raise
AnalysisException — plus constraint verification, fk violations, drift,
and the fused quality pass with its approx-distinct at-scale arm.

Generalizes the reference's hand-coded per-column rulebook
(`/root/reference/Validation_Rules.py`) into the schema-driven tier run
first at ingest; see the data_profile driver query for the oracle-checked
form.
"""

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.operators.profiler import (
    between,
    fk_violations,
    in_set,
    matches,
    non_negative,
    not_null,
    profile_drift,
    profile_table,
    unique,
    verify_constraints,
)


@pytest.fixture(scope="module")
def typed_df(spark):
    rows = [
        Row(i=1, d=1.25, s="aa", ts=datetime.datetime(2020, 1, 1, 12, 0, 5),
            dt=datetime.date(2020, 1, 1), arr=[1]),
        Row(i=2, d=-0.5, s="bbb", ts=datetime.datetime(2021, 6, 2, 0, 0, 0),
            dt=datetime.date(2021, 6, 2), arr=[2, 3]),
        Row(i=3, d=None, s=None, ts=None, dt=None, arr=None),
        Row(i=4, d=2.75, s="aa", ts=datetime.datetime(2020, 1, 1, 12, 0, 5),
            dt=datetime.date(2020, 1, 1), arr=[]),
    ]
    return spark.createDataFrame(rows)


def _as_map(df):
    return {(r["col_name"], r["metric"]): r["value"] for r in df.collect()}


def test_profile_every_type_class(typed_df):
    m = _as_map(profile_table(typed_df))
    # integral
    assert m[("i", "nonnull")] == 4 and m[("i", "nulls")] == 0
    assert m[("i", "min")] == 1 and m[("i", "max")] == 4
    assert m[("i", "sum")] == 10 and m[("i", "distinct")] == 4
    # floating: floor-quantized centi-units
    assert m[("d", "min_c100")] == -50 and m[("d", "max_c100")] == 275
    assert m[("d", "sum_c100")] == 125 + -50 + 275
    assert m[("d", "nulls")] == 1
    # string: lengths
    assert m[("s", "min_len")] == 2 and m[("s", "max_len")] == 3
    assert m[("s", "sum_len")] == 7 and m[("s", "distinct")] == 2
    # timestamp: truncated epoch seconds (was an invalid BIGINT cast on
    # the TIMESTAMP_NTZ columns parquet scans produce)
    epoch = int(datetime.datetime(2020, 1, 1, 12, 0, 5,
                                  tzinfo=datetime.timezone.utc).timestamp())
    assert m[("ts", "min_epoch")] == epoch
    # date: epoch days via its own metric class (the round-4/5 crash:
    # DATE routed into the timestamp class's CAST(c AS BIGINT))
    assert m[("dt", "min_days")] == (datetime.date(2020, 1, 1)
                                     - datetime.date(1970, 1, 1)).days
    assert m[("dt", "max_days")] == (datetime.date(2021, 6, 2)
                                     - datetime.date(1970, 1, 1)).days
    # 'other' (array) columns get the common metrics only
    assert m[("arr", "nonnull")] == 3
    assert ("arr", "min") not in m and ("arr", "min_len") not in m


def test_profile_timestamp_ntz_and_date_from_parquet(spark, sf_dir):
    """The real-world trigger: parquet timestamps surface as
    TIMESTAMP_NTZ; a derived DATE column exercises the date class."""
    orders = (spark.read.parquet(f"{sf_dir}/orders.parquet")
              .withColumn("o_orderdate_d", F.to_date("o_orderdate")))
    assert dict(orders.dtypes)["o_orderdate"] == "timestamp_ntz"
    m = _as_map(profile_table(
        orders, ["o_orderdate", "o_orderdate_d"]))
    assert m[("o_orderdate", "min_epoch")] > 0
    assert m[("o_orderdate_d", "min_days")] == \
        m[("o_orderdate", "min_epoch")] // 86400


def test_verify_constraints_single_pass(typed_df):
    cons = [not_null("i"), unique("i"), not_null("s"),
            in_set("s", ["aa", "bbb"]), in_set("s", ["aa"]),
            non_negative("d"), between("i", "1", "3"),
            matches("s", "^a")]
    m = _as_map(verify_constraints(typed_df, cons))
    assert m[("i", "not_null")] == 0 and m[("i", "unique")] == 0
    assert m[("s", "not_null")] == 1       # one NULL s
    # violation counts: NULLs never violate in_set/matches
    assert m[("s", "in_set")] in (0, 1)    # two in_set entries share a key
    assert m[("d", "non_negative")] == 1   # -0.5
    assert m[("i", "between")] == 1        # i=4
    assert m[("s", "matches")] == 1        # 'bbb'


def test_fk_violations_planted(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    clean = fk_violations(li, "l_orderkey", orders, "o_orderkey").collect()
    assert clean[0]["value"] == 0  # TPC-H referential integrity holds
    holed = orders.filter(F.col("o_orderkey") % 7 != 0)
    planted = fk_violations(li, "l_orderkey", holed, "o_orderkey").collect()
    expect = li.filter(F.col("l_orderkey") % 7 == 0).count()
    assert planted[0]["value"] == expect > 0


def test_profile_drift_statuses(typed_df):
    old = profile_table(typed_df.drop("dt"))
    new = profile_table(typed_df.filter(F.col("i") % 2 == 0))
    drift = {(r["col_name"], r["metric"]): r["status"]
             for r in profile_drift(old, new).collect()}
    assert drift[("dt", "min_days")] == "added"
    assert drift[("i", "nonnull")] == "changed"     # 4 -> 2
    assert drift[("i", "max")] == "unchanged"       # 4 both sides


def test_fused_quality_pass_matches_composition(typed_df):
    """fused_quality_pass (one aggregation pass) is row-identical to the
    profile_table + verify_constraints + profile_drift composition, and
    its plan carries exactly one aggregate source."""
    from nci_seronet_proc_data_validator_spark.operators.profiler import (
        fused_quality_pass)
    cons = [not_null("i"), non_negative("d")]
    fused = fused_quality_pass(typed_df, cons, slice_sql="i % 2 = 0",
                               drift_added=("arr",))
    got = {(r["arm"], r["col_name"], r["metric"]): r["value"]
           for r in fused.collect()}

    prof = _as_map(profile_table(typed_df))
    for (c, m), v in prof.items():
        assert got[("profile", c, m)] == v
    ver = _as_map(verify_constraints(typed_df, cons))
    for (c, m), v in ver.items():
        assert got[("verify", c, m)] == v
    drift = {(r["col_name"], r["metric"]): (r["status"], r["delta"],
                                            r["old_value"], r["new_value"])
             for r in profile_drift(
                 profile_table(typed_df.drop("arr")),
                 profile_table(typed_df.filter(F.col("i") % 2 == 0))
             ).collect()}
    for (c, m), (status, delta, old, new) in drift.items():
        want = delta if delta is not None else (
            new if new is not None else old)
        assert got[("drift", c, f"{m}/{status}")] == want, (c, m)

    # the fusion claim, r13 form: the pass reads ONE source with no
    # Union (the composition costs three separate sources + a drift
    # join). Since the r13 split-aggregate optimization
    # (profiler._struct_agg), exact-DISTINCT aggregates are planned as
    # their own aggregate over the same source — so the source appears
    # (at most) twice: once under the algebraic aggregate (no Expand)
    # and once under the distinct-only aggregate, and the only Join is
    # the single-row cross join stitching the two 1-row results. (Take
    # the final AQE plan section only.)
    plan = fused._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert 1 <= plan.count("Scan ") <= 2
    assert "Union" not in plan
    if plan.count("Scan ") == 2:      # split form: 1-row × 1-row stitch
        assert plan.count("Join") == plan.count("BroadcastNestedLoopJoin")
        # the algebraic side must NOT pay the distinct Expand: exactly
        # one Expand (under the distinct-only aggregate)
        assert plan.count("Expand") == 1
    else:
        assert "Join" not in plan


def test_struct_agg_split_matches_single_aggregate(spark):
    """The r13 split-DISTINCT planning (_struct_agg: algebraic and exact-
    DISTINCT aggregates as two 1-row aggregates stitched by cross join)
    must be value- and schema-identical to the single mixed aggregate it
    replaced — including on an EMPTY input, where both sides still emit
    their one global-aggregate row."""
    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.operators.profiler import (
        _struct_agg)

    items = ["count(*) AS n", "count(DISTINCT a) AS d_a",
             "sum(a) AS s_a", "count(DISTINCT b) AS d_b",
             "max(b) AS mx_b"]
    single = lambda df: (df.agg(F.expr(f"struct({', '.join(items)})")
                                .alias("_m")).select("_m.*"))
    data = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (None, None)],
        "a int, b string")
    for df in (data, data.limit(0)):
        got, want = _struct_agg(df, items), single(df)
        # the split emits algebraic columns first, then distinct ones —
        # callers reference metrics BY NAME (m{i} aliases), so pin the
        # name set and the per-name values, not positional order
        assert sorted(got.columns) == sorted(want.columns)
        [g], [w] = got.collect(), want.collect()
        assert g.asDict() == w.asDict()
