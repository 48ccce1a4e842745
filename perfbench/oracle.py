"""NumPy references the benchmark checks the engine's outputs against.

Each reference is computed from the same generated arrays the engine
received, using the engine's documented conventions (group A = first
sorted level other than the reference, intercept first, skip-first
dummies).
"""

from __future__ import annotations

import math

import numpy as np

import payroll


def design(frame: dict[str, np.ndarray], categorical: bool) -> tuple[np.ndarray, list[str]]:
    """Intercept, numeric predictors, then skip-first dept dummies."""
    n = len(frame[payroll.OUTCOME])
    cols = [np.ones(n)] + [frame[c].astype(np.float64) for c in payroll.NUMERIC]
    names = ["intercept"] + list(payroll.NUMERIC)
    if categorical:
        for level in sorted(set(frame["dept"].tolist()))[1:]:
            cols.append((frame["dept"] == level).astype(np.float64))
            names.append(f"dept_{level}")
    return np.column_stack(cols), names


def ols(X: np.ndarray, y: np.ndarray) -> np.ndarray:
    return np.linalg.lstsq(X, y, rcond=None)[0]


def close(a: float, b: float, rel: float = 1e-6, abs_: float = 1e-8) -> bool:
    return math.isfinite(a) and abs(a - b) <= abs_ + rel * abs(b)


class Company:
    """References for one MCP request's company (numeric predictors, plus
    the dept dummies when ``categorical``)."""

    def __init__(self, frame: dict[str, np.ndarray], categorical: bool) -> None:
        self.frame = frame
        self.y = frame[payroll.OUTCOME].astype(np.float64)
        self.X, self.names = design(frame, categorical)
        self.is_f = frame[payroll.GROUP] == "F"
        self.is_m = ~self.is_f
        self.gap = float(self.y[self.is_f].mean() - self.y[self.is_m].mean())
        self.beta_ref = ols(self.X[self.is_m], self.y[self.is_m])

    def pooled_beta_star(self) -> np.ndarray:
        """Pooled-with-indicator beta*: the indicator sits after the
        continuous predictors and is dropped from the result."""
        k = self.X.shape[1]
        Xp = np.insert(self.X, k, self.is_f.astype(np.float64), axis=1)
        return np.delete(ols(Xp, self.y), k)

    def detailed_explained(self) -> dict[str, float]:
        diff = self.X[self.is_f].mean(axis=0) - self.X[self.is_m].mean(axis=0)
        return dict(zip(self.names, diff * self.pooled_beta_star()))

    def frontier_t0(self) -> float:
        """t statistic of the non-reference dummy in the pooled OLS."""
        Xp = np.insert(self.X, 1, self.is_f.astype(np.float64), axis=1)
        b = ols(Xp, self.y)
        resid = self.y - Xp @ b
        sigma2 = float(resid @ resid) / (len(self.y) - Xp.shape[1])
        se = math.sqrt(sigma2 * np.linalg.inv(Xp.T @ Xp)[1, 1])
        return float(b[1] / se)


class Payroll:
    """References for the batch payroll (numeric predictors + dept)."""

    def __init__(self, frame: dict[str, np.ndarray]) -> None:
        y = frame[payroll.OUTCOME].astype(np.float64)
        X, self.names = design(frame, categorical=True)
        is_f = frame[payroll.GROUP] == "F"
        self.gap = float(y[is_f].mean() - y[~is_f].mean())
        self.beta_a = ols(X[is_f], y[is_f])
        self.q90_gap = float(np.quantile(y[is_f], 0.9) - np.quantile(y[~is_f], 0.9))
