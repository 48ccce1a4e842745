"""Decision-layer engine operators (SURVEY M19-M22): optimizer with
prediction intervals, verify-adjustments, efficient frontier, defensibility.

Reference: /root/reference/engine/src/analysis.rs:309-1153 and
engine/src/defensibility.rs. Sign/naming conventions follow the engine crate,
which differ from the core library (SURVEY §7.5 risk 5/6): here group "A" is
the REFERENCE group, decomposition defaults to Pooled beta*, and
new_gap = original_gap + cost/n_target.

Two realizations, chosen by the input's type:

A pandas frame (an MCP request's parsed CSV) runs in-process with NumPy and
starts no Spark job: the Gram statistics come from the same kernels the
Spark path runs inside ``mapInPandas``, the row-wise work (fair wage,
leverage, allocation, frontier sweep, defensibility rows) is vectorized
NumPy, and everything after the statistics is shared with the Spark path.
Results come back in the input's kind (``adjustments_df`` and the
defensibility frame are pandas).

A Spark DataFrame takes the Spark-first realization:
- fair wage, leverage x'(X'X)^{-1}x, prediction intervals, eligibility and
  per-feature contributions are ALL Catalyst column expressions built from
  k x k driver constants — they run distributed over any n;
- greedy allocation is the window-cumsum reformulation (exact equivalence to
  the sequential loop, see budget.py);
- the frontier keeps only O(k^2) Gram state + the payment schedule on the
  driver and updates X'y / y'y incrementally per budget step — no per-step
  data pass (the reference recomputes an n-row matmul per step,
  analysis.rs:1087-1096).

Row identity: adjustments are keyed by a stable ``row_id`` (pass ``id_col``),
not by position (SURVEY §7.5 risk 1).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scan import ordered_prev_cumsum
from ..errors import ColumnNotFound, NonNumericData, OaxacaError
from ..functions.linalg import collect_group_stats, group_stats_local
from ..functions.mathx import norm_cdf_scalar, norm_ppf_scalar

INTERCEPT = "__ob_intercept__"
ROW_ID = "__engine_row_id__"
COLLECT_LIMIT = 1_000_000


# ---------------------------------------------------------------------------
# result models (engine/src/types.rs:36-149)
# ---------------------------------------------------------------------------

@dataclass
class Contribution:
    name: str
    value: float


@dataclass
class Adjustment:
    index: int
    adjustment: float
    current_wage: float
    new_wage: float
    fair_wage: float
    fair_wage_lower_bound: float | None = None
    fair_wage_upper_bound: float | None = None
    contributions: list[Contribution] = field(default_factory=list)
    is_defensible: bool | None = None
    defensibility_message: str | None = None


class OptimizationResult:
    """Result of ``optimize``. ``adjustments_df`` is the lazy plan (a pandas
    frame, and every value already computed, for pandas input); the
    scalar summaries and the driver-side ``adjustments`` list are computed
    ON FIRST ACCESS (r14 OPT, guide §5: a query path that only consumes
    ``adjustments_df`` — the contract shape — must not pay for the
    original-gap decomposition run, the summary aggregations, or a
    COLLECT_LIMIT-bounded collect of every adjustment row; library/MCP
    consumers that read the attributes get the identical values, computed
    by the identical jobs, just on demand). Each lazy attribute memoizes."""

    def __init__(
        self,
        *,
        required_budget_fn,
        total_cost_fn,
        original_gap_fn,
        target_stats_fn,
        adjustments_fn,
        model_coefficients: list[Contribution],
        adjustments_df: DataFrame | None = None,
    ) -> None:
        self._required_budget_fn = required_budget_fn
        self._total_cost_fn = total_cost_fn
        self._original_gap_fn = original_gap_fn
        self._target_stats_fn = target_stats_fn
        self._adjustments_fn = adjustments_fn
        self.model_coefficients = model_coefficients
        self.adjustments_df = adjustments_df
        self._memo: dict[str, object] = {}

    def _get(self, key: str, fn):
        if key not in self._memo:
            self._memo[key] = fn()
        return self._memo[key]

    @property
    def required_budget(self) -> float:
        return self._get("required_budget", self._required_budget_fn)

    @property
    def total_cost(self) -> float:
        return self._get("total_cost", self._total_cost_fn)

    @property
    def original_gap(self) -> float:
        return self._get("original_gap", self._original_gap_fn)

    @property
    def new_gap(self) -> float:
        n_target, _ = self._get("target_stats", self._target_stats_fn)
        if n_target > 0:
            return self.original_gap + (self.total_cost / n_target)
        return self.original_gap

    @property
    def original_unexplained_gap(self) -> float:
        n_target, net = self._get("target_stats", self._target_stats_fn)
        return -net / n_target if n_target > 0 else 0.0

    @property
    def new_unexplained_gap(self) -> float:
        n_target, net = self._get("target_stats", self._target_stats_fn)
        if n_target > 0:
            return -(net - self.total_cost) / n_target
        return self.original_unexplained_gap

    @property
    def adjustments(self) -> list[Adjustment]:
        return self._get("adjustments", self._adjustments_fn)


@dataclass
class FrontierPoint:
    budget: float
    t_statistic: float
    p_value: float
    is_significant: bool


@dataclass
class DataSummary:
    total_count: int
    group_a_count: int
    group_b_count: int
    group_a_mean: float
    group_b_mean: float


@dataclass
class DecompositionResult:
    total_gap: float
    explained_gap: float
    unexplained_gap: float
    explained_percentage: float
    unexplained_percentage: float
    data_summary: DataSummary | None = None
    detailed_explained: list = field(default_factory=list)
    detailed_unexplained: list = field(default_factory=list)
    unexplained_standard_error: float | None = None


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

def _is_local(df) -> bool:
    return isinstance(df, pd.DataFrame)


def strict_numeric_cast(df: DataFrame | pd.DataFrame, cols: list[str]) -> DataFrame | pd.DataFrame:
    """S3 (engine/src/analysis.rs:14-35): cast to double; error if the cast
    introduces nulls ('contains non-numeric data')."""
    existing = set(df.columns)
    for c in cols:
        if c not in existing:
            raise ColumnNotFound(c)
    if _is_local(df):
        cast = {}
        for c in cols:
            v = pd.to_numeric(df[c], errors="coerce")
            if (v.isna() & df[c].notna()).any():
                raise NonNumericData(c)
            cast[c] = v.to_numpy(dtype=np.float64)
        return df.assign(**cast)
    checks = [
        F.sum((F.col(c).try_cast("double").isNull() & F.col(c).isNotNull()).cast("long")).alias(c)
        for c in cols
    ]
    bad = df.agg(*checks).collect()[0]
    for c in cols:
        if int(bad[c] or 0) > 0:
            raise NonNumericData(c)
    out = df
    for c in cols:
        out = out.withColumn(c, F.col(c).try_cast("double"))
    return out


def _with_row_id(df, id_col: str | None):
    """Stable row identity: ``id_col`` as a long, else the input position
    (a pandas frame) or ``monotonically_increasing_id`` (Spark)."""
    if _is_local(df):
        ids = df[id_col].to_numpy(dtype=np.int64) if id_col else np.arange(len(df))
        return df.assign(**{ROW_ID: ids})
    if id_col:
        return df.withColumn(ROW_ID, F.col(id_col).cast("long"))
    return df.withColumn(ROW_ID, F.monotonically_increasing_id())


def _design(df: DataFrame, predictors: list[str], categorical_predictors: list[str] | None):
    """Intercept-first design with skip-first dummies (builder conventions)."""
    dummy_names = []
    out = df.withColumn(INTERCEPT, F.lit(1.0))
    for var in categorical_predictors or []:
        levels = [r[0] for r in df.select(var).distinct().orderBy(var).collect() if r[0] is not None]
        for lv in levels[1:]:
            name = f"{var}_{lv}"
            out = out.withColumn(name, (F.col(var) == F.lit(lv)).cast("double"))
            dummy_names.append(name)
    xcols = [INTERCEPT] + list(predictors) + dummy_names
    return out, xcols


def _design_matrix(
    pdf: pd.DataFrame, predictors: list[str], categorical_predictors: list[str] | None
) -> tuple[np.ndarray, list[str]]:
    """pandas twin of ``_design``: the (n x k) design matrix and its names."""
    cols = [np.ones(len(pdf))] + [pdf[p].to_numpy(dtype=np.float64) for p in predictors]
    xcols = [INTERCEPT] + list(predictors)
    for var in categorical_predictors or []:
        values = pdf[var].to_numpy()
        for lv in sorted(pdf[var].dropna().unique())[1:]:
            cols.append((values == lv).astype(np.float64))
            xcols.append(f"{var}_{lv}")
    return np.column_stack(cols), xcols


def _stats_frame(X: np.ndarray, xcols: list[str], y: np.ndarray, is_ref=None) -> pd.DataFrame:
    """Design + outcome (``__y``) frame for the in-process Gram kernel, with
    the reference-group flag ``__is_ref`` when given."""
    frame = pd.DataFrame(X, columns=xcols, copy=False)
    frame["__y"] = y
    if is_ref is not None:
        frame["__is_ref"] = is_ref
    return frame


def _lstsq_beta(xtx: np.ndarray, xty: np.ndarray) -> np.ndarray:
    """SVD least-squares semantics from sufficient statistics:
    pinv(X'X) X'y == X^+ y (min-norm solution, matches analysis.rs:434-460)."""
    return np.linalg.pinv(xtx) @ xty


def _fair_wage_model(stats_ref, beta_fair: np.ndarray, singular_message: str) -> tuple[float, np.ndarray]:
    """sigma^2 from reference-group residuals (analysis.rs:477-490) and
    (X'X)^-1 of the reference group for the prediction intervals."""
    rss = float(stats_ref.yty - 2 * beta_fair @ stats_ref.xty + beta_fair @ stats_ref.xtx @ beta_fair)
    dof = stats_ref.n - len(beta_fair)
    sigma2 = rss / dof if dof > 0 else 0.0
    try:
        cov = np.linalg.inv(stats_ref.xtx)
    except np.linalg.LinAlgError as e:
        raise OaxacaError(singular_message) from e
    return sigma2, cov


def _balanced_sum(terms: list):
    """Sum of Columns as a balanced tree: Catalyst analyses expressions
    recursively, and a left-deep chain of k^2 additions overflows the JVM
    stack at k ~ 20."""
    if not terms:
        return F.lit(0.0)
    while len(terms) > 1:
        pairs = [terms[i] + terms[i + 1] for i in range(0, len(terms) - 1, 2)]
        terms = pairs + ([terms[-1]] if len(terms) % 2 else [])
    return terms[0]


def _leverage_expr(cov: np.ndarray, xcols: list[str]):
    """x'Cx as a Column; the symmetric pairs are folded into one term."""
    terms = []
    k = len(xcols)
    for i in range(k):
        for j in range(i, k):
            cij = float(cov[i, i]) if i == j else float(cov[i, j] + cov[j, i])
            if cij != 0.0:
                terms.append(F.col(xcols[i]) * F.col(xcols[j]) * F.lit(cij))
    return _balanced_sum(terms)


def _xb_expr(beta, xcols):
    return _balanced_sum([F.col(c) * F.lit(float(b)) for b, c in zip(beta, xcols)])


def _leverage(X: np.ndarray, cov: np.ndarray) -> np.ndarray:
    """Row-wise x'Cx."""
    return np.einsum("ij,jk,ik->i", X, cov, X)


def _adjustment_deltas(adjustments) -> pd.DataFrame:
    """(ROW_ID, __delta) frame of the requested wage deltas, one row per
    request, from (index, value) pairs or an (index, adjustment) frame."""
    if isinstance(adjustments, DataFrame):
        adjustments = adjustments.select("index", "adjustment").toPandas()
    if _is_local(adjustments):
        ids = adjustments["index"].to_numpy(dtype=np.int64)
        vals = adjustments["adjustment"].to_numpy(dtype=np.float64)
    else:
        ids = np.array([int(i) for i, _ in adjustments], dtype=np.int64)
        vals = np.array([float(v) for _, v in adjustments], dtype=np.float64)
    return pd.DataFrame({ROW_ID: ids, "__delta": vals})


def _spark_adjustment_deltas(spark, adjustments) -> DataFrame:
    if isinstance(adjustments, DataFrame):
        return adjustments.select(
            F.col("index").cast("long").alias(ROW_ID), F.col("adjustment").alias("__delta")
        )
    return spark.createDataFrame(
        [(int(i), float(v)) for i, v in adjustments], f"{ROW_ID} long, __delta double"
    )


# ---------------------------------------------------------------------------
# decomposition request surface (run_decomposition_on_df, analysis.rs:99-307)
# ---------------------------------------------------------------------------

def run_decomposition(
    df: DataFrame | pd.DataFrame,
    outcome: str,
    group: str,
    reference_group: str,
    predictors: list[str],
    categorical_predictors: list[str] | None = None,
    bootstrap_reps: int = 100,
    reference_coefficients: str | None = None,
    quantile: float | None = None,
) -> DecompositionResult:
    from ..builder import OaxacaBuilder

    df = strict_numeric_cast(df, [outcome] + list(predictors))
    # engine summary: A = reference group (analysis.rs:106-133)
    if _is_local(df):
        is_a = (df[group] == reference_group).to_numpy()
        is_b = ~is_a & df[group].notna().to_numpy()
        y = df[outcome]
        n, na = len(df), int(is_a.sum())
        ma, mb = y[is_a].mean(), y[is_b].mean()
    else:
        srow = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col(group) == reference_group).cast("long")).alias("na"),
            F.avg(F.when(F.col(group) == reference_group, F.col(outcome))).alias("ma"),
            F.avg(F.when(F.col(group) != reference_group, F.col(outcome))).alias("mb"),
        ).collect()[0]
        n, na, ma, mb = int(srow["n"]), int(srow["na"] or 0), srow["ma"], srow["mb"]
    summary = DataSummary(
        total_count=n,
        group_a_count=na,
        group_b_count=n - na,
        group_a_mean=0.0 if ma is None or ma != ma else float(ma),
        group_b_mean=0.0 if mb is None or mb != mb else float(mb),
    )

    rc = {"GroupA": "group_a", "GroupB": "group_b", "Weighted": "weighted"}.get(
        reference_coefficients or "", "pooled"
    )
    b = (
        OaxacaBuilder(df, outcome, group, reference_group)
        .predictors(predictors)
        .reference_coefficients(rc)
        .bootstrap_reps(bootstrap_reps)
    )
    if categorical_predictors:
        b.categorical_predictors(categorical_predictors)
    if quantile is not None:
        res = b.decompose_quantile(quantile)
    else:
        res = b.run()

    total = float(res.total_gap)
    explained = float(res.two_fold.explained.estimate)
    unexplained = float(res.two_fold.unexplained.estimate)
    return DecompositionResult(
        total_gap=total,
        explained_gap=explained,
        unexplained_gap=unexplained,
        explained_percentage=(explained / total) * 100.0 if total else math.nan,
        unexplained_percentage=(unexplained / total) * 100.0 if total else math.nan,
        data_summary=summary,
        detailed_explained=list(res.two_fold.detailed_explained),
        detailed_unexplained=list(res.two_fold.detailed_unexplained),
        unexplained_standard_error=res.two_fold.unexplained.std_err,
    )


# ---------------------------------------------------------------------------
# M19: optimizer
# ---------------------------------------------------------------------------

def optimize(
    df: DataFrame | pd.DataFrame,
    outcome: str,
    group: str,
    reference_group: str,
    predictors: list[str],
    categorical_predictors: list[str] | None = None,
    *,
    budget: float = 0.0,
    strategy: str = "greedy",
    target: str = "reference",
    range_target: str = "midpoint",
    confidence_level: float = 0.95,
    min_gap_pct: float = 0.0,
    forensic_mode: bool = False,
    adjust_both_groups: bool = False,
    id_col: str | None = None,
) -> OptimizationResult:
    """Remediation-budget optimizer (analysis.rs:309-869)."""
    from ..builder import OaxacaBuilder

    df = strict_numeric_cast(df, [outcome] + list(predictors))
    df = _with_row_id(df, id_col)
    df = df.dropna(subset=[outcome, group] + list(predictors) + list(categorical_predictors or []))
    local = _is_local(df)
    if not local:
        df = df.cache()
    try:
        # original gap via the library builder, pooled beta* (analysis.rs:349-363);
        # only total_gap is read, which no bootstrap replicate changes
        gap_builder = (
            OaxacaBuilder(df, outcome, group, reference_group)
            .predictors(predictors)
            .reference_coefficients("pooled")
            .bootstrap_reps(0)
            .id_col(ROW_ID)
        )
        if categorical_predictors:
            gap_builder.categorical_predictors(categorical_predictors)
        # r14 OPT (guide §5): the decomposition run behind original_gap is
        # deferred to first access of .original_gap/.new_gap — nothing below
        # consumes it, and the contract query path never reads it.
        original_gap_fn = lambda: float(gap_builder.run().total_gap)  # noqa: E731

        if local:
            X, xcols = _design_matrix(df, predictors, categorical_predictors)
            is_ref = (df[group] == reference_group).to_numpy()
            stats = group_stats_local(
                _stats_frame(X, xcols, df[outcome].to_numpy(), is_ref), xcols, "__y", "__is_ref"
            )
        else:
            design, xcols = _design(df, predictors, categorical_predictors)
            is_ref = F.col(group) == F.lit(reference_group)
            stats = collect_group_stats(
                design.withColumn("__is_ref", is_ref), xcols, outcome, group="__is_ref"
            )
        if True not in stats or False not in stats:
            raise OaxacaError("One group has no data")
        stats_ref, stats_tgt = stats[True], stats[False]

        # fair-wage model (analysis.rs:434-460)
        if target == "pooled":
            beta_fair = _lstsq_beta(stats_ref.xtx + stats_tgt.xtx, stats_ref.xty + stats_tgt.xty)
        else:
            beta_fair = _lstsq_beta(stats_ref.xtx, stats_ref.xty)
        model_coefficients = [Contribution(n, float(b)) for n, b in zip(xcols, beta_fair)]
        sigma2, cov = _fair_wage_model(
            stats_ref, beta_fair,
            "Covariance matrix is singular, likely due to perfect multicollinearity.",
        )
        confidence = min(max(confidence_level, 0.50), 0.999)
        z = norm_ppf_scalar(1.0 - (1.0 - confidence) / 2.0)
        range_key = range_target.replace("_", "").lower()
        equitable = strategy.lower() == "equitable"
        if local:
            return _optimize_local(
                df[ROW_ID].to_numpy(), X, df[outcome].to_numpy(), is_ref, beta_fair, sigma2, cov, z,
                range_key, xcols=xcols, budget=budget, equitable=equitable, min_gap_pct=min_gap_pct,
                forensic_mode=forensic_mode, adjust_both_groups=adjust_both_groups,
                original_gap_fn=original_gap_fn, model_coefficients=model_coefficients,
            )

        fair = _xb_expr(beta_fair, xcols)
        if sigma2 <= 1e-9:
            lower, upper = fair, fair
        else:
            se = F.sqrt(F.lit(sigma2) * (F.lit(1.0) + _leverage_expr(cov, xcols)))
            lower = fair - F.lit(z) * se
            upper = fair + F.lit(z) * se
        target_wage = {"midpoint": fair, "lowerbound": lower, "upperbound": upper}[range_key]
        diff = target_wage - F.col(outcome)
        gap_pct = F.when(F.abs(F.col(outcome)) > 1e-6, diff / F.col(outcome)).otherwise(F.lit(0.0))

        scored = design.select(
            ROW_ID,
            F.col(outcome).alias("__wage"),
            is_ref.alias("__is_ref"),
            fair.alias("fair_wage"),
            lower.alias("fair_wage_lower_bound"),
            upper.alias("fair_wage_upper_bound"),
            diff.alias("__diff"),
            gap_pct.alias("__gap_pct"),
            F.map_from_arrays(
                F.array(*[F.lit(n) for n in xcols]),
                F.array(*[(F.col(c) * F.lit(float(b))).alias(c) for c, b in zip(xcols, beta_fair)]),
            ).alias("contributions"),
        )

        in_scope = (~F.col("__is_ref")) | F.lit(bool(adjust_both_groups or forensic_mode))
        eligible = (
            (F.col("__diff") > 1e-6)
            & (F.col("__gap_pct") >= F.lit(float(min_gap_pct)))
            & ((~F.col("__is_ref")) | F.lit(bool(adjust_both_groups)))
        )
        pot = scored.filter(in_scope).withColumn("__eligible", eligible)
        if not forensic_mode:
            pot = pot.filter(F.col("__eligible"))
        pot = pot.cache()

        # r14 OPT (guide §5): the required-budget aggregate is only needed
        # eagerly when its value is baked into the allocation plan (equitable
        # coverage, or greedy with no explicit budget); a greedy run with an
        # explicit budget defers it to first access of .required_budget.
        need_memo: dict[str, float] = {}

        def required_budget_fn() -> float:
            if "v" not in need_memo:
                row = pot.filter(F.col("__eligible") & (F.col("__diff") > 0)).agg(
                    F.sum("__diff").alias("need")
                ).collect()[0]
                need_memo["v"] = float(row["need"] or 0.0)
            return need_memo["v"]

        if equitable or budget <= 0.0:
            total_need = required_budget_fn()
        else:
            total_need = None
        effective_budget = budget if budget > 0.0 else total_need * 1.00001

        if equitable:
            coverage = min(effective_budget / total_need, 1.0) if total_need > 0 else 0.0
            alloc = pot.withColumn(
                "adjustment",
                F.when(
                    F.col("__eligible") & (F.col("__diff") > 0), F.col("__diff") * F.lit(coverage)
                ).otherwise(F.lit(0.0)),
            )
        else:
            paid = pot.filter(F.col("__eligible") & (F.col("__diff") > 0))
            paid = ordered_prev_cumsum(
                paid,
                [F.col("__diff").desc(), F.col(ROW_ID).asc()],
                F.col("__diff"),
                "__cum_prev",
            ).withColumn(
                "adjustment",
                F.least(
                    F.col("__diff"),
                    F.greatest(F.lit(effective_budget) - F.col("__cum_prev"), F.lit(0.0)),
                ),
            ).drop("__cum_prev")
            rest = pot.filter(~(F.col("__eligible") & (F.col("__diff") > 0))).withColumn(
                "adjustment", F.lit(0.0)
            )
            alloc = paid.unionByName(rest)

        alloc = alloc.withColumn("new_wage", F.col("__wage") + F.col("adjustment"))
        alloc = alloc.cache()

        def total_cost_fn() -> float:
            return float(alloc.agg(F.sum("adjustment")).collect()[0][0] or 0.0)

        def target_stats_fn() -> tuple[float, float]:
            mrow = scored.filter(~F.col("__is_ref")).agg(
                F.count(F.lit(1)).alias("n_t"), F.sum("__diff").alias("net")
            ).collect()[0]
            return float(mrow["n_t"] or 0), float(mrow["net"] or 0.0)

        adjustments_df = alloc.select(
            F.col(ROW_ID).alias("index"),
            "adjustment",
            F.col("__wage").alias("current_wage"),
            "new_wage",
            "fair_wage",
            "fair_wage_lower_bound",
            "fair_wage_upper_bound",
            "contributions",
        )

        def adjustments_fn() -> list[Adjustment]:
            out: list[Adjustment] = []
            n_adj = adjustments_df.count()
            if n_adj <= COLLECT_LIMIT:
                for r in adjustments_df.orderBy("index").collect():
                    out.append(
                        Adjustment(
                            index=int(r["index"]),
                            adjustment=float(r["adjustment"]),
                            current_wage=float(r["current_wage"]),
                            new_wage=float(r["new_wage"]),
                            fair_wage=float(r["fair_wage"]),
                            fair_wage_lower_bound=float(r["fair_wage_lower_bound"]),
                            fair_wage_upper_bound=float(r["fair_wage_upper_bound"]),
                            contributions=[Contribution(n, float(v)) for n, v in r["contributions"].items()],
                        )
                    )
            return out

        return OptimizationResult(
            required_budget_fn=required_budget_fn,
            total_cost_fn=total_cost_fn,
            original_gap_fn=original_gap_fn,
            target_stats_fn=target_stats_fn,
            adjustments_fn=adjustments_fn,
            model_coefficients=model_coefficients,
            adjustments_df=adjustments_df,
        )
    finally:
        if not local:
            df.unpersist()


def _optimize_local(
    rid, X, wage, is_ref, beta_fair, sigma2, cov, z, range_key, *, xcols, budget, equitable,
    min_gap_pct, forensic_mode, adjust_both_groups, original_gap_fn, model_coefficients,
) -> OptimizationResult:
    """NumPy scoring and allocation of the rows: the same rules as the Spark
    plan, with greedy order as a lexsort on (-diff, row id) plus a cumsum."""
    fair = X @ beta_fair
    if sigma2 <= 1e-9:
        lower = upper = fair
    else:
        se = np.sqrt(sigma2 * (1.0 + _leverage(X, cov)))
        lower, upper = fair - z * se, fair + z * se
    diff = {"midpoint": fair, "lowerbound": lower, "upperbound": upper}[range_key] - wage
    gap_pct = np.divide(diff, wage, out=np.zeros_like(diff), where=np.abs(wage) > 1e-6)

    in_scope = ~is_ref | bool(adjust_both_groups or forensic_mode)
    eligible = (diff > 1e-6) & (gap_pct >= float(min_gap_pct)) & (~is_ref | bool(adjust_both_groups))
    pot = in_scope if forensic_mode else in_scope & eligible
    payable = pot & eligible & (diff > 0)
    total_need = float(diff[payable].sum())
    effective_budget = budget if budget > 0.0 else total_need * 1.00001

    adjustment = np.zeros(len(diff))
    if equitable:
        coverage = min(effective_budget / total_need, 1.0) if total_need > 0 else 0.0
        adjustment[payable] = diff[payable] * coverage
    else:
        idx = np.flatnonzero(payable)
        order = idx[np.lexsort((rid[idx], -diff[idx]))]
        d = diff[order]
        cum_prev = np.cumsum(d) - d
        adjustment[order] = np.minimum(d, np.maximum(effective_budget - cum_prev, 0.0))

    rows = np.flatnonzero(pot)
    rows = rows[np.argsort(rid[rows], kind="stable")]
    contributions = [dict(zip(xcols, c)) for c in (X[rows] * beta_fair).tolist()]
    adjustments_df = pd.DataFrame({
        "index": rid[rows],
        "adjustment": adjustment[rows],
        "current_wage": wage[rows],
        "new_wage": wage[rows] + adjustment[rows],
        "fair_wage": fair[rows],
        "fair_wage_lower_bound": lower[rows],
        "fair_wage_upper_bound": upper[rows],
        "contributions": contributions,
    })
    total_cost = float(adjustment[rows].sum())
    target = ~is_ref
    target_stats = (float(target.sum()), float(diff[target].sum()))

    def adjustments_fn() -> list[Adjustment]:
        cols = zip(
            adjustments_df["index"].tolist(),
            *(adjustments_df[c].tolist() for c in (
                "adjustment", "current_wage", "new_wage", "fair_wage",
                "fair_wage_lower_bound", "fair_wage_upper_bound",
            )),
            contributions,
        )
        return [
            Adjustment(i, a, cw, nw, fw, lo, hi, [Contribution(n, v) for n, v in cmap.items()])
            for i, a, cw, nw, fw, lo, hi, cmap in cols
        ]

    return OptimizationResult(
        required_budget_fn=lambda: total_need,
        total_cost_fn=lambda: total_cost,
        original_gap_fn=original_gap_fn,
        target_stats_fn=lambda: target_stats,
        adjustments_fn=adjustments_fn,
        model_coefficients=model_coefficients,
        adjustments_df=adjustments_df,
    )


# ---------------------------------------------------------------------------
# M20: verify adjustments
# ---------------------------------------------------------------------------

def verify_adjustments(
    df: DataFrame | pd.DataFrame,
    adjustments: list[tuple[int, float]] | DataFrame | pd.DataFrame,
    outcome: str,
    group: str,
    reference_group: str,
    predictors: list[str],
    categorical_predictors: list[str] | None = None,
    bootstrap_reps: int = 100,
    id_col: str | None = None,
) -> DecompositionResult:
    """analysis.rs:40-96: apply wage deltas at row ids, re-run decomposition.
    Deltas that name the same row id are summed, so each employee's row
    appears once."""
    df = strict_numeric_cast(df, [outcome] + list(predictors))
    df = _with_row_id(df, id_col)
    if _is_local(df):
        deltas = _adjustment_deltas(adjustments).groupby(ROW_ID)["__delta"].sum()
        shift = df[ROW_ID].map(deltas).fillna(0.0).to_numpy()
        mutated = df.assign(**{outcome: df[outcome].to_numpy() + shift})
    else:
        adj_df = _spark_adjustment_deltas(df.sparkSession, adjustments)
        adj_df = adj_df.groupBy(ROW_ID).agg(F.sum("__delta").alias("__delta"))
        mutated = df.join(F.broadcast(adj_df), on=ROW_ID, how="left").withColumn(
            outcome, F.col(outcome) + F.coalesce(F.col("__delta"), F.lit(0.0))
        ).drop("__delta")
    return run_decomposition(
        mutated, outcome, group, reference_group, predictors, categorical_predictors,
        bootstrap_reps=bootstrap_reps,
    )


# ---------------------------------------------------------------------------
# M21: efficient frontier
# ---------------------------------------------------------------------------

def efficient_frontier(
    df: DataFrame | pd.DataFrame,
    outcome: str,
    group: str,
    reference_group: str,
    predictors: list[str],
    categorical_predictors: list[str] | None = None,
    *,
    steps: int = 50,
    max_budget: float | None = None,
    id_col: str | None = None,
) -> list[FrontierPoint]:
    """analysis.rs:871-1153: t-stat of the group dummy as budget grows.

    The pooled Gram state is computed ONCE; the per-step updates touch only
    the payment schedule (X'y += x_i * dy_i, y'y += 2 y_i dy_i + dy_i^2).
    Under greedy allocation the amount paid to a row at budget b is
    closed-form: paid_i(b) = clip(b - cum_prev_i, 0, gap_i) with cum_prev
    the prefix sum of gaps in desc-gap order (the same rule as the
    optimizer). Payments at budget b are totals from the baseline, so each
    step's sufficient-stat deltas against the baseline Gram state are plain
    sums:
      X'y(b) = X'y + sum_i x_i paid_i(b)
      y'y(b) = y'y + sum_i (2 y_i paid_i(b) + paid_i(b)^2)
    On Spark that is one crossJoin with the (steps)-row budget table and one
    groupBy — nothing scaling with the schedule reaches the driver (vs
    analysis.rs:1107-1150's per-step sequential payment loop); in-process it
    is one (steps x schedule) clip and one GEMM.
    """
    opt = optimize(
        df, outcome, group, reference_group, predictors, categorical_predictors,
        budget=0.0, strategy="greedy", target="reference", id_col=id_col,
    )
    total_need = opt.required_budget
    mb = max_budget if max_budget is not None else total_need * 1.1
    safe_max = mb if mb >= 1e-9 else 1000.0
    step_size = safe_max / steps

    dfc = _with_row_id(strict_numeric_cast(df, [outcome] + list(predictors)), id_col)
    if _is_local(dfc):
        X, xcols_raw = _design_matrix(dfc, predictors, categorical_predictors)
        # pooled design [intercept, group_dummy(=1 for non-reference), features...]
        gd = (dfc[group] != reference_group).to_numpy(dtype=np.float64)
        X = np.column_stack([X[:, 0], gd, X[:, 1:]])
        xcols = [INTERCEPT, "__gd"] + xcols_raw[1:]
        y = dfc[outcome].to_numpy()
        stats = group_stats_local(_stats_frame(X, xcols, y), xcols, "__y")
        xtx_inv = _pooled_inverse(stats)
        sched = opt.adjustments_df.loc[opt.adjustments_df["adjustment"] > 0, ["index", "adjustment"]]
        rows = pd.DataFrame({ROW_ID: dfc[ROW_ID].to_numpy(), "__pos": np.arange(len(dfc))}).merge(
            sched.rename(columns={"index": ROW_ID}), on=ROW_ID
        )
        rid = rows[ROW_ID].to_numpy()
        gap = rows["adjustment"].to_numpy()
        pos = rows["__pos"].to_numpy()
        order = np.lexsort((rid, -gap))
        gap, pos = gap[order], pos[order]
        cum_prev = np.cumsum(gap) - gap
        budgets = np.arange(1, steps + 1) * step_size
        paid = np.maximum(0.0, np.minimum(gap[None, :], budgets[:, None] - cum_prev[None, :]))
        dxy = paid @ X[pos]
        dyty = paid @ (2.0 * y[pos]) + (paid * paid).sum(axis=1)
        return _frontier_points(stats, xtx_inv, step_size, dxy, dyty)

    design, xcols_raw = _design(dfc, predictors, categorical_predictors)
    design = design.withColumn("__gd", (F.col(group) != F.lit(reference_group)).cast("double"))
    xcols = [INTERCEPT, "__gd"] + [c for c in xcols_raw if c != INTERCEPT]
    stats = collect_group_stats(design, xcols, outcome)
    xtx_inv = _pooled_inverse(stats)

    sched = design.join(
        F.broadcast(
            opt.adjustments_df.filter(F.col("adjustment") > 0).select(
                F.col("index").alias(ROW_ID), F.col("adjustment").alias("__gap")
            )
        ),
        on=ROW_ID,
    ).select(ROW_ID, "__gap", F.col(outcome).alias("__y"), *xcols)
    sched = ordered_prev_cumsum(
        sched, [F.col("__gap").desc(), F.col(ROW_ID).asc()], F.col("__gap"), "__cum_prev"
    )

    spark = design.sparkSession
    steps_df = F.broadcast(
        spark.createDataFrame(
            [(t, t * step_size) for t in range(1, steps + 1)], "__step long, __budget double"
        )
    )
    paid = F.greatest(F.lit(0.0), F.least(F.col("__gap"), F.col("__budget") - F.col("__cum_prev")))
    per_step = (
        sched.crossJoin(steps_df)
        .withColumn("__paid", paid)
        .filter(F.col("__paid") > 0)
        .groupBy("__step")
        .agg(
            *[F.sum(F.col(c) * F.col("__paid")).alias(f"__dxy_{j}") for j, c in enumerate(xcols)],
            F.sum(
                F.lit(2.0) * F.col("__y") * F.col("__paid") + F.col("__paid") * F.col("__paid")
            ).alias("__dyty"),
        )
        .collect()
    )
    dxy = np.zeros((steps, len(xcols)))
    dyty = np.zeros(steps)
    for r in per_step:
        s = int(r["__step"]) - 1
        dxy[s] = [float(r[f"__dxy_{j}"] or 0.0) for j in range(len(xcols))]
        dyty[s] = float(r["__dyty"] or 0.0)
    return _frontier_points(stats, xtx_inv, step_size, dxy, dyty)


def _pooled_inverse(stats) -> np.ndarray:
    try:
        return np.linalg.inv(stats.xtx)
    except np.linalg.LinAlgError as e:
        raise OaxacaError("Singular matrix in Pooled OLS") from e


def _frontier_points(stats, xtx_inv, step_size: float, dxy: np.ndarray, dyty: np.ndarray) -> list[FrontierPoint]:
    """Group-dummy t statistic at zero budget and after each step's
    (X'y, y'y) deltas ``dxy[s]``, ``dyty[s]``."""
    dof = stats.n - len(stats.xty)

    def point(budget: float, xty_t: np.ndarray, yty_t: float) -> FrontierPoint:
        if dof <= 0:
            return FrontierPoint(budget, 0.0, 1.0, False)
        beta = xtx_inv @ xty_t
        rss = max(float(yty_t - 2 * beta @ xty_t + beta @ stats.xtx @ beta), 0.0)
        se = math.sqrt(rss / dof * xtx_inv[1, 1])
        t = float(beta[1]) / se if se > 0 else 0.0
        p = 2.0 * norm_cdf_scalar(-abs(t))
        return FrontierPoint(budget, t, p, p < 0.05)

    points = [point(0.0, stats.xty, stats.yty)]
    for s in range(len(dyty)):
        points.append(point((s + 1) * step_size, stats.xty + dxy[s], stats.yty + dyty[s]))
    return points


# ---------------------------------------------------------------------------
# M22: defensibility
# ---------------------------------------------------------------------------

DEFENSIBLE_MESSAGE = "Adjustment within the defensible fair-wage range."


def _shortfall_message_expr(shortfall):
    return F.concat(
        F.lit("New wage falls "),
        F.round(shortfall, 2).cast("string"),
        F.lit(" below the fair-wage lower bound."),
    )


def _shortfall_message(shortfall: float) -> str:
    """Python twin of ``_shortfall_message_expr``, character for character."""
    return f"New wage falls {_java_double_str(_spark_round(shortfall, 2))} below the fair-wage lower bound."


def _spark_round(x: float, scale: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on the shortest decimal form."""
    if not math.isfinite(x):
        return x
    exact = Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP, Context(prec=800))
    return float(exact)


def _java_double_str(x: float) -> str:
    """``java.lang.Double.toString``: plain notation for 1e-3 <= |x| < 1e7,
    else computerized scientific notation; always a fractional digit."""
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    if x == 0.0:
        return "-0.0" if math.copysign(1.0, x) < 0 else "0.0"
    sign = "-" if x < 0 else ""
    digits, exp = _shortest_digits(abs(x))  # value = 0.d1d2... * 10**exp
    if 1e-3 <= abs(x) < 1e7:
        if exp <= 0:
            return f"{sign}0.{'0' * -exp}{digits}"
        whole, frac = digits[:exp].ljust(exp, "0"), digits[exp:]
        return f"{sign}{whole}.{frac or '0'}"
    return f"{sign}{digits[0]}.{digits[1:] or '0'}E{exp - 1}"


def _shortest_digits(x: float) -> tuple[str, int]:
    """Shortest round-trip significant digits of positive ``x`` and the
    exponent e with x = 0.<digits> * 10**e."""
    _, digits, exponent = Decimal(repr(x)).as_tuple()
    text = "".join(map(str, digits)).rstrip("0") or "0"
    return text, len(digits) + exponent


def check_defensibility(
    df: DataFrame | pd.DataFrame,
    adjustments: list[tuple[int, float]] | DataFrame | pd.DataFrame,
    outcome: str,
    group: str,
    reference_group: str,
    predictors: list[str],
    categorical_predictors: list[str] | None = None,
    *,
    overrides: dict[int, dict[str, float]] | None = None,
    id_col: str | None = None,
) -> DataFrame | pd.DataFrame:
    """defensibility.rs:9-388: adjustment defensible iff
    new_wage >= fair-wage 95% lower bound - 1.0 (reference-group SVD fit),
    with per-row predictor overrides applied before prediction. Returns a
    frame of the input's kind (pandas in, pandas out)."""
    dfc = _with_row_id(strict_numeric_cast(df, [outcome] + list(predictors)), id_col)
    if _is_local(dfc):
        return _check_defensibility_local(
            dfc, adjustments, outcome, group, reference_group, predictors,
            categorical_predictors, overrides,
        )
    spark = dfc.sparkSession

    if overrides:
        ov_rows = []
        for rid, omap in overrides.items():
            ov_rows.append(tuple([int(rid)] + [float(omap.get(p, math.nan)) for p in predictors]))
        schema = ", ".join([f"{ROW_ID} long"] + [f"__ov_{p} double" for p in predictors])
        ov_df = spark.createDataFrame(ov_rows, schema)
        dfc = dfc.join(F.broadcast(ov_df), on=ROW_ID, how="left")
        for p in predictors:
            dfc = dfc.withColumn(
                p,
                F.when(~F.isnan(F.coalesce(F.col(f"__ov_{p}"), F.lit(float("nan")))), F.col(f"__ov_{p}")).otherwise(F.col(p)),
            )

    design, xcols = _design(dfc, predictors, categorical_predictors)
    is_ref = F.col(group) == F.lit(reference_group)
    stats_ref = collect_group_stats(design.filter(is_ref), xcols, outcome)
    beta_fair = _lstsq_beta(stats_ref.xtx, stats_ref.xty)
    sigma2, cov = _fair_wage_model(stats_ref, beta_fair, "Covariance matrix is singular")
    z = norm_ppf_scalar(0.975)
    adj_df = _spark_adjustment_deltas(spark, adjustments)

    fair = _xb_expr(beta_fair, xcols)
    if sigma2 <= 1e-9:
        lower = fair
    else:
        lower = fair - F.lit(z) * F.sqrt(F.lit(sigma2) * (F.lit(1.0) + _leverage_expr(cov, xcols)))

    out = design.join(F.broadcast(adj_df), on=ROW_ID, how="inner").select(
        F.col(ROW_ID).alias("index"),
        F.col("__delta").alias("adjustment"),
        F.col(outcome).alias("current_wage"),
        (F.col(outcome) + F.col("__delta")).alias("new_wage"),
        fair.alias("fair_wage"),
        lower.alias("fair_wage_lower_bound"),
    )
    shortfall = F.col("fair_wage_lower_bound") - F.col("new_wage")
    return out.withColumn(
        "is_defensible", F.col("new_wage") >= F.col("fair_wage_lower_bound") - F.lit(1.0)
    ).withColumn(
        "defensibility_message",
        F.when(F.col("is_defensible"), F.lit(DEFENSIBLE_MESSAGE)).otherwise(
            _shortfall_message_expr(shortfall)
        ),
    )


def _check_defensibility_local(
    dfc, adjustments, outcome, group, reference_group, predictors, categorical_predictors, overrides,
) -> pd.DataFrame:
    if overrides:
        rid = dfc[ROW_ID].to_numpy()
        cols = {p: dfc[p].to_numpy(dtype=np.float64, copy=True) for p in predictors}
        for row, omap in overrides.items():
            hit = rid == int(row)
            for p in predictors:
                v = float(omap.get(p, math.nan))
                if not math.isnan(v):
                    cols[p][hit] = v
        dfc = dfc.assign(**cols)

    X, xcols = _design_matrix(dfc, predictors, categorical_predictors)
    wage = dfc[outcome].to_numpy()
    is_ref = (dfc[group] == reference_group).to_numpy()
    stats_ref = group_stats_local(_stats_frame(X[is_ref], xcols, wage[is_ref]), xcols, "__y")
    beta_fair = _lstsq_beta(stats_ref.xtx, stats_ref.xty)
    sigma2, cov = _fair_wage_model(stats_ref, beta_fair, "Covariance matrix is singular")
    z = norm_ppf_scalar(0.975)

    # inner join in row order, like the Spark plan's broadcast join
    rows = pd.DataFrame({ROW_ID: dfc[ROW_ID].to_numpy(), "__pos": np.arange(len(dfc))}).merge(
        _adjustment_deltas(adjustments), on=ROW_ID
    )
    pos = rows["__pos"].to_numpy()
    Xr = X[pos]
    fair = Xr @ beta_fair
    if sigma2 <= 1e-9:
        lower = fair
    else:
        lower = fair - z * np.sqrt(sigma2 * (1.0 + _leverage(Xr, cov)))
    delta = rows["__delta"].to_numpy()
    new_wage = wage[pos] + delta
    ok = new_wage >= lower - 1.0
    shortfall = lower - new_wage
    return pd.DataFrame({
        "index": rows[ROW_ID].to_numpy(),
        "adjustment": delta,
        "current_wage": wage[pos],
        "new_wage": new_wage,
        "fair_wage": fair,
        "fair_wage_lower_bound": lower,
        "is_defensible": ok,
        "defensibility_message": [
            DEFENSIBLE_MESSAGE if good else _shortfall_message(s)
            for good, s in zip(ok.tolist(), shortfall.tolist())
        ],
    })
