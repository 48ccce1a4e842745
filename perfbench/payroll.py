"""Seeded synthetic payroll generator for the benchmark.

Everything the engine receives is made here from one integer seed: a
company (one MCP request's CSV) or a large employee-year panel (written
once to parquet). The same seed gives byte-identical CSV and parquet.

Columns:
    group       "F" / "M" (reference "M")
    tenure, age, level, hours, perf, edu   numeric predictors
    tenure_sq, age_sq                       Mincer squares
    dept        12-level categorical "D01".."D12"
    firm        firm id
    worker      worker id (panel rows of one person share it)
    log_wage    outcome with a planted unexplained gap for "F"

Values are rounded to the precision written to CSV, so an oracle computed
from the returned arrays sees the same numbers the engine parses.
"""

from __future__ import annotations

import io

import numpy as np

NUMERIC = ["tenure", "age", "level", "hours", "perf", "edu", "tenure_sq", "age_sq"]
CATEGORICAL = ["dept"]
OUTCOME = "log_wage"
GROUP = "group"
REFERENCE = "M"
N_DEPTS = 12

# planted wage model; "F" also differs in endowments (tenure, level), so
# the gap has both an explained and an unexplained part
_BETA = {
    "tenure": 0.03, "tenure_sq": -0.0006, "age": 0.035, "age_sq": -0.0004,
    "level": 0.11, "hours": 0.006, "perf": 0.05, "edu": 0.045,
}
_PLANTED_GAP = -0.07
_CSV_COLUMNS = [GROUP] + NUMERIC + CATEGORICAL + [OUTCOME]


def _people(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    female = rng.random(n) < 0.45
    age = rng.integers(22, 65, n).astype(np.float64)
    tenure = np.round(np.minimum(rng.gamma(2.0, 3.0, n) * np.where(female, 0.85, 1.0), age - 18.0), 2)
    level = np.clip(np.round(1.0 + tenure / 6.0 + rng.normal(0.0, 1.0, n) - 0.3 * female), 1, 6)
    hours = rng.integers(30, 51, n).astype(np.float64)
    perf = np.round(np.clip(rng.normal(3.2, 0.7, n), 1.0, 5.0), 2)
    edu = rng.integers(10, 21, n).astype(np.float64)
    dept = rng.integers(0, N_DEPTS, n)
    return {
        "female": female, "age": age, "tenure": tenure, "level": level, "hours": hours,
        "perf": perf, "edu": edu, "tenure_sq": np.round(tenure * tenure, 4),
        "age_sq": age * age, "dept_idx": dept,
    }


def _log_wage(cols: dict[str, np.ndarray], extra: np.ndarray, rng: np.random.Generator) -> np.ndarray:
    dept_effect = np.linspace(-0.15, 0.2, N_DEPTS)
    y = 1.9 + dept_effect[cols["dept_idx"]] + _PLANTED_GAP * cols["female"] + extra
    for name, b in _BETA.items():
        y = y + b * cols[name]
    return np.round(y + rng.normal(0.0, 0.18, len(y)), 6)


def _frame(cols: dict[str, np.ndarray], y: np.ndarray) -> dict[str, np.ndarray]:
    out = {GROUP: np.where(cols["female"], "F", "M")}
    for c in NUMERIC:
        out[c] = cols[c]
    out["dept"] = np.array([f"D{i + 1:02d}" for i in range(N_DEPTS)])[cols["dept_idx"]]
    out[OUTCOME] = y
    return out


def company(seed: int, index: int, n: int) -> dict[str, np.ndarray]:
    """Company number ``index`` of a seeded stream: ``n`` employees, one row
    each."""
    rng = np.random.default_rng([seed, index, n, 1])
    cols = _people(rng, n)
    return _frame(cols, _log_wage(cols, np.zeros(n), rng))


def _fmt(v) -> str:
    if isinstance(v, str):
        return v
    return repr(float(v))


def to_csv(frame: dict[str, np.ndarray]) -> str:
    """CSV text (header + rows, '\\n' line ends) in a fixed column order."""
    buf = io.StringIO()
    buf.write(",".join(_CSV_COLUMNS) + "\n")
    columns = [frame[c].tolist() for c in _CSV_COLUMNS]
    for row in zip(*columns):
        buf.write(",".join(_fmt(v) for v in row) + "\n")
    return buf.getvalue()


PANEL_YEARS = 2
MOVE_RATE = 0.2


def panel(seed: int, n_workers: int, n_firms: int) -> dict[str, np.ndarray]:
    """Employee-year panel: ``n_workers`` people over ``PANEL_YEARS`` years
    at ``n_firms`` firms; a ``MOVE_RATE`` share changes firm each year,
    which connects the worker-firm graph for AKM. Rows are ordered by
    (year, worker)."""
    rng = np.random.default_rng([seed, n_workers, n_firms, 2])
    cols = _people(rng, n_workers)
    worker_fe = rng.normal(0.0, 0.12, n_workers)
    firm_fe = rng.normal(0.0, 0.1, n_firms)
    firm = rng.integers(0, n_firms, n_workers)
    parts = []
    for year in range(PANEL_YEARS):
        if year:
            movers = rng.random(n_workers) < MOVE_RATE
            firm = np.where(movers, rng.integers(0, n_firms, n_workers), firm)
            cols = dict(cols)
            cols["tenure"] = np.where(movers, 0.0, cols["tenure"] + 1.0)
            cols["tenure_sq"] = np.round(cols["tenure"] * cols["tenure"], 4)
            cols["age"] = cols["age"] + 1.0
            cols["age_sq"] = cols["age"] * cols["age"]
        y = _log_wage(cols, worker_fe + firm_fe[firm], rng)
        part = _frame(cols, y)
        part["firm"] = firm.astype(np.int64)
        part["worker"] = np.arange(n_workers, dtype=np.int64)
        parts.append(part)
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


def write_parquet(frame: dict[str, np.ndarray], directory: str, parts: int) -> list[str]:
    """Write ``frame`` as ``parts`` parquet files of contiguous rows with
    pinned writer settings, so the same frame gives the same bytes. Several
    files let a reader split the scan across cores, as a real multi-file
    payroll export would."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    n = len(frame[OUTCOME])
    bounds = np.linspace(0, n, parts + 1).astype(int)
    paths = []
    for i in range(parts):
        sl = slice(bounds[i], bounds[i + 1])
        table = pa.table({k: pa.array(v[sl]) for k, v in frame.items()})
        path = os.path.join(directory, f"part-{i:05d}.parquet")
        pq.write_table(table, path, compression="snappy", write_statistics=True, use_dictionary=True)
        paths.append(path)
    return paths
