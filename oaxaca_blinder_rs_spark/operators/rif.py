"""Recentered Influence Function transform (SURVEY M5).

Mirrors /root/reference/oaxaca_blinder/src/math/rif.rs:14-88 per group:

  q     = type-7 sample quantile of y            (rif.rs:22-35)
  h     = 0.9 * min(sd, IQR/1.34) * n^(-0.2)     (rif.rs:39-59; IQR via
          ceil(p*n)-1 order-statistic indexing — note this differs from
          kde.rs's floor convention; both are kept as specified)
  f(q)  = mean Gaussian kernel at q / h, floored at 1e-8 (rif.rs:61-77)
  RIF   = q + (tau - I(y <= q)) / f(q)           (rif.rs:79-88)

Spark plan: one groupBy(group) aggregate for (n, mean, var, q via exact
percentile), one ranked filter for the two IQR order statistics, one
aggregate for the density, then the RIF as a per-group CASE expression —
constant-size driver state, three shuffles total, n unbounded.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.mathx import norm_pdf
from .kde import order_stats

__all__ = ["rif_transform", "rif_group_params"]


def rif_group_params(
    df: DataFrame, ycol: str, group: str, quantile: float, engine: str = "expr"
) -> dict[str, dict[str, float]]:
    """Per-group (q_tau, density, n) needed for the RIF expression.

    engine='expr': three distributed jobs (percentile agg, ranked IQR filter,
    density agg) — nothing but per-group scalars reach the driver; the 100 TB
    path. engine='pandas': pull the (group, y) column once and compute the
    same numbers in NumPy — one job, exact, for latency-sensitive small data.
    """
    if engine == "pandas":
        return _rif_group_params_pandas(df, ycol, group, quantile)
    base = df.select(group, F.col(ycol).cast("double").alias(ycol))
    agg_rows = base.groupBy(group).agg(
        F.count(ycol).alias("n"),
        F.variance(ycol).alias("var"),
        F.percentile(ycol, F.lit(float(quantile))).alias("q"),
    ).collect()
    info = {r[group]: {"n": int(r["n"]), "var": float(r["var"] or 0.0), "q": float(r["q"])} for r in agg_rows}

    # IQR order statistics with rif.rs ceil-indexing: idx = max(ceil(p*n)-1, 0)
    wanted: dict[str, list[int]] = {}
    for g, d in info.items():
        n = d["n"]
        q75_idx = max(int(math.ceil(0.75 * n)) - 1, 0)
        q25_idx = max(int(math.ceil(0.25 * n)) - 1, 0)
        wanted[g] = [min(q25_idx, n - 1), min(q75_idx, n - 1)]
    all_idxs = sorted({i for v in wanted.values() for i in v})
    os_ = order_stats(base, ycol, all_idxs, group=group)

    out: dict[str, dict[str, float]] = {}
    dens_exprs = []
    for g, d in info.items():
        n = float(d["n"])
        if n < 2:
            out[g] = {"q": d["q"], "density": None, "n": d["n"]}
            continue
        sd = math.sqrt(d["var"])
        i25, i75 = wanted[g]
        iqr = os_[(g, i75)] - os_[(g, i25)]
        min_spread = min(sd, iqr / 1.34) if iqr > 1e-8 else sd
        if min_spread < 1e-8:
            min_spread = 1.0
        h = 0.9 * min_spread * n ** (-0.2)
        out[g] = {"q": d["q"], "h": h, "n": d["n"]}
        u = (F.lit(out[g]["q"]) - F.col(ycol)) / F.lit(h)
        dens_exprs.append(
            F.avg(F.when(F.col(group) == F.lit(g), norm_pdf(u))).alias(f"__dens_{g}")
        )
    if dens_exprs:
        drow = base.agg(*dens_exprs).collect()[0]
        for g in out:
            if "h" in out[g]:
                density = float(drow[f"__dens_{g}"]) / out[g]["h"]
                out[g]["density"] = max(density, 1e-8)
    return out


def _rif_group_params_pandas(df: DataFrame, ycol: str, group: str, quantile: float) -> dict:
    """Driver-side exact mirror of rif.rs:14-77 (np.quantile 'linear' IS the
    type-7 rule). Only for data small enough to pull one column."""
    pdf = df.select(group, F.col(ycol).cast("double").alias("y")).toPandas()
    return rif_params_from_pandas(pdf, group, "y", quantile)


def rif_params_from_pandas(pdf, group: str, ycol: str, quantile: float) -> dict:
    """Per-group RIF parameters from an already-collected (group, y) frame."""
    import numpy as np

    out: dict[str, dict[str, float]] = {}
    for gval, sub in pdf.groupby(group, sort=False):
        y = sub[ycol].to_numpy()
        n = len(y)
        if n < 2:
            out[gval] = {"q": float(y[0]) if n else math.nan, "density": None, "n": n}
            continue
        ys = np.sort(y)
        q = float(np.quantile(ys, quantile, method="linear"))
        sd = float(np.std(y, ddof=1))
        q75 = ys[min(max(int(math.ceil(0.75 * n)) - 1, 0), n - 1)]
        q25 = ys[min(max(int(math.ceil(0.25 * n)) - 1, 0), n - 1)]
        iqr = float(q75 - q25)
        min_spread = min(sd, iqr / 1.34) if iqr > 1e-8 else sd
        if min_spread < 1e-8:
            min_spread = 1.0
        h = 0.9 * min_spread * n ** (-0.2)
        u = (q - y) / h
        density = float(np.mean(np.exp(-0.5 * u * u) / math.sqrt(2 * math.pi)) / h)
        out[gval] = {"q": q, "h": h, "n": n, "density": max(density, 1e-8)}
    return out


def rif_expr_from_params(params: dict, ycol: str, group: str, quantile: float):
    """RIF column expression from per-group parameters (rif.rs:79-88)."""
    expr = None
    for g, p in params.items():
        if p.get("density") is None:
            # n < 2: reference returns the series unchanged (rif.rs:18-20)
            val = F.col(ycol).cast("double")
        else:
            indicator = (F.col(ycol) <= F.lit(p["q"])).cast("double")
            val = F.lit(p["q"]) + (F.lit(float(quantile)) - indicator) / F.lit(p["density"])
        cond = F.col(group) == F.lit(g)
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr


def rif_values_from_params(params: dict, y, g, quantile: float):
    """NumPy twin of ``rif_expr_from_params`` over outcome array ``y`` and
    group array ``g``; rows of groups without parameters get NaN."""
    import numpy as np

    out = np.full(len(y), np.nan)
    for gval, p in params.items():
        m = g == gval
        if p.get("density") is None:
            out[m] = y[m]
        else:
            out[m] = p["q"] + (float(quantile) - (y[m] <= p["q"]).astype(np.float64)) / p["density"]
    return out


def rif_transform(
    df: DataFrame, ycol: str, group: str, quantile: float, engine: str = "expr"
) -> DataFrame:
    """Replace ``ycol`` with its per-group RIF (builder.rs:711-745)."""
    params = rif_group_params(df, ycol, group, quantile, engine=engine)
    return df.withColumn(ycol, rif_expr_from_params(params, ycol, group, quantile))
