"""In-process engine path: a pandas frame runs the decision-layer entry
points and the builder with NumPy, and must give the Spark path's answers.

Every test feeds the same parsed CSV to both paths: as the pandas frame the
MCP server hands over, and as a Spark DataFrame made from it.
"""

import json

import numpy as np
import pandas as pd
import pytest

from oaxaca_blinder_rs_spark.builder import OaxacaBuilder
from oaxaca_blinder_rs_spark.functions.mathx import norm_ppf_scalar
from oaxaca_blinder_rs_spark.mcp_server import McpServer
from oaxaca_blinder_rs_spark.operators import engine_ops as eo
from oaxaca_blinder_rs_spark.sources.csv import parse_csv_bytes

RID = "__ob_row_id__"
PREDS = ["tenure", "age", "level", "hours", "perf", "edu", "tenure_sq", "age_sq"]
DEPT_LEVELS = 12  # with the 8 numeric predictors: k = 20
REL = 1e-9


def company_csv(n: int = 600, seed: int = 3) -> str:
    """A company of ``n`` employees. Age and hours are centered, and the
    squares are of centered, scaled values, so X'X stays well-conditioned
    (condition number ~5e4): a 1e-9 comparison of the two paths then
    measures the code, not how an ill-conditioned solve amplifies the
    different summation orders of the two Gram reductions."""
    rng = np.random.default_rng(seed)
    is_f = rng.random(n) < 0.45
    tenure = np.round(rng.gamma(2.0, 3.0, n) - 0.8 * is_f, 1).clip(0.0)
    age = np.round(tenure + rng.gamma(2.0, 5.0, n) - 18.0, 1)  # years from 40
    level = rng.integers(1, 6, n) - (is_f & (rng.random(n) < 0.2))
    hours = np.round(rng.normal(0.0, 4.0, n), 1)  # hours from 40 a week
    perf = np.round(rng.normal(3.0, 0.7, n), 2)
    edu = rng.integers(10, 21, n)
    dept_idx = rng.integers(0, DEPT_LEVELS, n)
    tenure_sq = np.round(((tenure - 6.0) / 3.0) ** 2, 3)
    age_sq = np.round((age / 10.0) ** 2, 3)
    wage = (
        50000.0 + 1400.0 * tenure - 180.0 * tenure_sq + 300.0 * age - 400.0 * age_sq
        + 4000.0 * level + 150.0 * hours + 2500.0 * perf + 1900.0 * edu + 900.0 * dept_idx
        - 2800.0 * is_f + rng.normal(0.0, 4000.0, n)
    )
    return pd.DataFrame({
        "wage": np.round(wage, 2),
        "tenure": tenure,
        "age": age,
        "level": level,
        "hours": hours,
        "perf": perf,
        "edu": edu,
        "tenure_sq": tenure_sq,
        "age_sq": age_sq,
        "dept": [f"d{i:02d}" for i in dept_idx],
        "gender": np.where(is_f, "F", "M"),
    }).to_csv(index=False)


@pytest.fixture(scope="module")
def frames(spark):
    pdf = parse_csv_bytes(company_csv())
    return pdf, spark.createDataFrame(pdf)


def close(a, b, rel=REL, abs_=1e-9):
    return abs(a - b) <= abs_ + rel * abs(b)


def assert_close(a, b, what, rel=REL, abs_=1e-9):
    assert close(a, b, rel, abs_), f"{what}: local {a!r} != spark {b!r}"


def assert_decomposition_equal(loc, rem):
    for f in ("total_gap", "explained_gap", "unexplained_gap"):
        assert_close(getattr(loc, f), getattr(rem, f), f)
    ls, rs = loc.data_summary, rem.data_summary
    assert (ls.total_count, ls.group_a_count, ls.group_b_count) == (
        rs.total_count, rs.group_a_count, rs.group_b_count
    )
    assert_close(ls.group_a_mean, rs.group_a_mean, "group_a_mean")
    assert_close(ls.group_b_mean, rs.group_b_mean, "group_b_mean")
    for side in ("detailed_explained", "detailed_unexplained"):
        lc, rc = getattr(loc, side), getattr(rem, side)
        assert [c.name for c in lc] == [c.name for c in rc]
        for a, b in zip(lc, rc):
            assert_close(a.estimate, b.estimate, f"{side}[{a.name}]")


@pytest.mark.parametrize(
    "cats,quantile", [(None, None), (["dept"], None), (None, 0.9)], ids=["numeric", "dept", "q90"]
)
def test_decomposition_parity(frames, cats, quantile):
    pdf, sdf = frames
    args = ("wage", "gender", "M", PREDS, cats)
    loc = eo.run_decomposition(pdf, *args, bootstrap_reps=0, quantile=quantile)
    rem = eo.run_decomposition(sdf, *args, bootstrap_reps=0, quantile=quantile)
    assert_decomposition_equal(loc, rem)


def assert_optimization_equal(loc, rem, budget_scale):
    tol = budget_scale * 1e-12
    for f in ("required_budget", "total_cost", "original_gap", "new_gap",
              "original_unexplained_gap", "new_unexplained_gap"):
        assert_close(getattr(loc, f), getattr(rem, f), f, abs_=tol)
    assert [c.name for c in loc.model_coefficients] == [c.name for c in rem.model_coefficients]
    for a, b in zip(loc.model_coefficients, rem.model_coefficients):
        assert_close(a.value, b.value, f"coefficient {a.name}")
    la, ra = loc.adjustments, rem.adjustments
    assert [a.index for a in la] == [a.index for a in ra]
    for a, b in zip(la, ra):
        assert_close(a.adjustment, b.adjustment, f"adjustment {a.index}", abs_=tol)
        for f in ("current_wage", "new_wage", "fair_wage", "fair_wage_lower_bound", "fair_wage_upper_bound"):
            assert_close(getattr(a, f), getattr(b, f), f"{f} {a.index}", abs_=tol)
        assert {c.name: c.value for c in a.contributions}.keys() == {c.name: c.value for c in b.contributions}.keys()
        rc = {c.name: c.value for c in b.contributions}
        for c in a.contributions:
            assert_close(c.value, rc[c.name], f"contribution {c.name} {a.index}")


@pytest.mark.parametrize(
    "cats,kwargs",
    [
        (None, {"budget": 25000.0}),
        (["dept"], {"budget": 25000.0}),
        (None, {"budget": 0.0, "range_target": "lowerbound"}),
        (["dept"], {"budget": 15000.0, "strategy": "equitable", "target": "pooled"}),
        (None, {"budget": 5000.0, "forensic_mode": True, "adjust_both_groups": True}),
    ],
    ids=["greedy", "greedy-dept", "auto-lower", "equitable-pooled-dept", "forensic-both"],
)
def test_optimize_parity(frames, cats, kwargs):
    pdf, sdf = frames
    args = ("wage", "gender", "M", PREDS, cats)
    loc = eo.optimize(pdf, *args, id_col=RID, **kwargs)
    rem = eo.optimize(sdf, *args, id_col=RID, **kwargs)
    assert loc.adjustments, "the fixture should produce adjustments"
    assert_optimization_equal(loc, rem, max(kwargs["budget"], 1.0))


def test_spark_optimize_with_twelve_level_dept_matches_numpy(frames):
    """k = 20 (intercept, 8 numeric, 11 dummies): the Spark leverage
    expression has k^2 = 400 terms, and the fair-wage bounds equal a direct
    NumPy computation."""
    pdf, sdf = frames
    rem = eo.optimize(sdf, "wage", "gender", "M", PREDS, ["dept"], budget=25000.0, id_col=RID)
    levels = sorted(pdf["dept"].unique())
    assert len(levels) == DEPT_LEVELS
    X = np.column_stack(
        [np.ones(len(pdf))] + [pdf[p].to_numpy(float) for p in PREDS]
        + [(pdf["dept"] == lv).to_numpy(float) for lv in levels[1:]]
    )
    y = pdf["wage"].to_numpy(float)
    ref = (pdf["gender"] == "M").to_numpy()
    beta = np.linalg.lstsq(X[ref], y[ref], rcond=None)[0]
    resid = y[ref] - X[ref] @ beta
    sigma2 = resid @ resid / (ref.sum() - X.shape[1])
    lev = np.einsum("ij,jk,ik->i", X, np.linalg.inv(X[ref].T @ X[ref]), X)
    z = norm_ppf_scalar(0.975)
    half = z * np.sqrt(sigma2 * (1.0 + lev))
    fair = X @ beta
    by_id = dict(zip(pdf[RID].tolist(), range(len(pdf))))
    assert rem.adjustments
    for a in rem.adjustments:
        i = by_id[a.index]
        assert_close(a.fair_wage, fair[i], "fair wage")
        assert_close(a.fair_wage_lower_bound, fair[i] - half[i], "lower bound")
        assert_close(a.fair_wage_upper_bound, fair[i] + half[i], "upper bound")


@pytest.mark.parametrize("cats", [None, ["dept"]], ids=["numeric", "dept"])
def test_verify_parity(frames, cats):
    pdf, sdf = frames
    args = ("wage", "gender", "M", PREDS, cats)
    opt = eo.optimize(pdf, *args, budget=30000.0, id_col=RID)
    adj = [(a.index, a.adjustment) for a in opt.adjustments if a.adjustment > 0]
    loc = eo.verify_adjustments(pdf, adj, *args, bootstrap_reps=0, id_col=RID)
    rem = eo.verify_adjustments(sdf, adj, *args, bootstrap_reps=0, id_col=RID)
    assert_decomposition_equal(loc, rem)


@pytest.mark.parametrize("local", [True, False], ids=["local", "spark"])
def test_verify_sums_repeated_indices(frames, local):
    """An index named twice moves that employee's wage by the sum of its
    deltas; the row is not duplicated."""
    pdf, sdf = frames
    df = pdf if local else sdf
    args = ("wage", "gender", "M", PREDS)
    f_ids = pdf.loc[pdf["gender"] == "F", RID].tolist()
    split = eo.verify_adjustments(
        df, [(f_ids[0], 700.0), (f_ids[0], 300.0), (f_ids[1], 250.0)], *args,
        bootstrap_reps=0, id_col=RID,
    )
    summed = eo.verify_adjustments(
        df, [(f_ids[0], 1000.0), (f_ids[1], 250.0)], *args, bootstrap_reps=0, id_col=RID
    )
    assert split.data_summary.total_count == len(pdf)
    n_f = len(f_ids)
    base = pdf.loc[pdf["gender"] == "F", "wage"].mean()
    assert split.data_summary.group_b_mean == pytest.approx(base + 1250.0 / n_f, rel=1e-12)
    assert_decomposition_equal(split, summed)


def _defensibility_rows(frame):
    if isinstance(frame, pd.DataFrame):
        rows = frame.to_dict("records")
    else:
        rows = [r.asDict() for r in frame.collect()]
    return sorted(rows, key=lambda r: (r["index"], r["adjustment"]))


@pytest.mark.parametrize("cats", [None, ["dept"]], ids=["numeric", "dept"])
def test_defensibility_parity(frames, cats):
    pdf, sdf = frames
    args = ("wage", "gender", "M", PREDS, cats)
    ids = pdf[RID].tolist()
    adj = [(ids[i], v) for i, v in zip(range(0, 60, 3), np.linspace(-30000.0, 9000.0, 20).tolist())]
    adj.append((ids[0], 500.0))  # the same employee audited twice
    overrides = {ids[3]: {"tenure": 25.0, "tenure_sq": 40.1}, ids[6]: {"edu": 11.0, "perf": 1.5}}
    loc = _defensibility_rows(eo.check_defensibility(pdf, adj, *args, overrides=overrides, id_col=RID))
    rem = _defensibility_rows(eo.check_defensibility(sdf, adj, *args, overrides=overrides, id_col=RID))
    assert len(loc) == len(rem) == len(adj)
    assert any(not r["is_defensible"] for r in loc) and any(r["is_defensible"] for r in loc)
    for a, b in zip(loc, rem):
        assert a["index"] == b["index"]
        for f in ("adjustment", "current_wage", "new_wage", "fair_wage", "fair_wage_lower_bound"):
            assert_close(a[f], b[f], f)
        assert a["is_defensible"] == b["is_defensible"]
        assert a["defensibility_message"] == b["defensibility_message"]


def test_shortfall_message_matches_spark(spark):
    """Spark rounds HALF_UP on the shortest decimal form (2.675 -> 2.68,
    where Python's round gives 2.67) and prints the double the Java way."""
    from pyspark.sql import functions as F

    values = [
        2.675, 1.005, 1.015, 2.5, 1.0, 10.0, 123.456, 99999.995, 1234567.891,
        9999999.994, 9999999.995, 10000000.0, 12345678.905, 3.14159e12, 2.5e21,
        0.125, 0.0049, 0.001, 0.0001, 1e-7, -2.675, -1234.565, 0.0,
    ]
    got = [
        r[0] for r in spark.createDataFrame([(v,) for v in values], "s double")
        .select(eo._shortfall_message_expr(F.col("s"))).collect()
    ]
    assert [eo._shortfall_message(v) for v in values] == got
    assert eo._shortfall_message(2.675) == "New wage falls 2.68 below the fair-wage lower bound."


@pytest.mark.parametrize("cats", [None, ["dept"]], ids=["numeric", "dept"])
def test_frontier_parity(frames, cats):
    pdf, sdf = frames
    args = ("wage", "gender", "M", PREDS, cats)
    loc = eo.efficient_frontier(pdf, *args, steps=20, id_col=RID)
    rem = eo.efficient_frontier(sdf, *args, steps=20, id_col=RID)
    assert len(loc) == len(rem) == 21
    for a, b in zip(loc, rem):
        assert_close(a.budget, b.budget, "budget")
        assert_close(a.t_statistic, b.t_statistic, f"t at {a.budget}")
        assert_close(a.p_value, b.p_value, f"p at {a.budget}")
        assert a.is_significant == b.is_significant
    assert abs(loc[-1].t_statistic) < abs(loc[0].t_statistic)


@pytest.mark.parametrize("quantile", [None, 0.9], ids=["mean", "q90"])
def test_bootstrap_standard_errors_match_spark_fast_path(frames, quantile):
    """The in-process bootstrap draws the splitmix64 stream of the Spark
    fused poisson_fast path, keyed by the same row ids."""
    pdf, sdf = frames

    def builder(df):
        return (
            OaxacaBuilder(df, "wage", "gender", "M")
            .predictors(PREDS).categorical_predictors(["dept"])
            .bootstrap_reps(40).id_col(RID)
        )

    spark_builder = builder(sdf).compute_engine("pandas").bootstrap_method("poisson_fast")
    if quantile is None:
        loc, rem = builder(pdf).run(), spark_builder.run()
    else:
        loc, rem = builder(pdf).decompose_quantile(quantile), spark_builder.decompose_quantile(quantile)
    comps = lambda r: r.two_fold.aggregate + r.two_fold.detailed_explained + r.two_fold.detailed_unexplained  # noqa: E731
    for a, b in zip(comps(loc), comps(rem)):
        assert a.name == b.name
        assert_close(a.estimate, b.estimate, f"{a.name} estimate")
        assert_close(a.std_err, b.std_err, f"{a.name} std_err", abs_=1e-12)
    loc.ensure_residuals()
    rem.ensure_residuals()
    assert loc.residual_row_ids == rem.residual_row_ids
    np.testing.assert_allclose(loc.residuals, rem.residuals, rtol=1e-9, atol=1e-6)


TOOL_ARGS = {
    "forensic_decomposition": {"categorical_predictors": ["dept"], "bootstrap_reps": 20},
    "simulate_remediation": {"budget": 20000.0},
    "verify_adjustments": {"adjustments": [{"index": 1, "value": 500.0}, {"index": 1, "value": 20.0}]},
    "check_defensibility": {
        "adjustments": [
            {"index": 2, "value": -25000.0, "predictor_overrides": {"tenure": 3.0}},
            {"index": 5, "value": 100.0},
        ]
    },
    "generate_efficient_frontier": {"steps": 10},
}


def _request(name):
    return {
        "csv_content": company_csv(400, seed=11),
        "outcome_variable": "wage",
        "group_variable": "gender",
        "reference_group": "M",
        "predictors": PREDS,
        **TOOL_ARGS[name],
    }


def test_mcp_tools_start_no_spark_job(spark):
    sc = spark.sparkContext
    server = McpServer(spark)
    group = "mcp-in-process-check"
    sc.setJobGroup(group, group)
    try:
        for name in TOOL_ARGS:
            server.call_tool(name, _request(name))
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []


def _numpy_scalars(obj, path="$"):
    if isinstance(obj, (np.integer, np.bool_)):
        return [f"{path}: {type(obj).__name__}"]
    if isinstance(obj, dict):
        return [p for k, v in obj.items() for p in _numpy_scalars(v, f"{path}.{k}")]
    if isinstance(obj, list):
        return [p for i, v in enumerate(obj) for p in _numpy_scalars(v, f"{path}[{i}]")]
    return []


@pytest.mark.parametrize("name", list(TOOL_ARGS))
def test_mcp_payload_is_plain_json(name):
    server = McpServer()
    resp = server.handle({
        "jsonrpc": "2.0", "id": 1, "method": "tools/call",
        "params": {"name": name, "arguments": _request(name)},
    })
    assert resp["result"]["isError"] is False, resp["result"]
    assert json.loads(resp["result"]["content"][0]["text"])
    payload = server.call_tool(name, _request(name))
    assert _numpy_scalars(payload) == []
    json.dumps(payload)
    assert server._spark is None  # no session was created for a tool call
