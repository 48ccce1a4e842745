"""The benchmark's workloads: what each operation sends to the engine and
how its output is checked.

Both are closed loops with one client: the next operation starts when the
previous one returns. A run measures one round of the workload's operation
kinds in a fixed order; the seed makes the data.

interactive
    MCP tool requests through ``McpServer.call_tool``, each carrying a
    fresh company as CSV text (under the SSE transport's 2 MiB body cap).
    Company sizes span 500-12,000 employees but are fixed per kind: the
    seed makes the employees, not the head count (see ``EMPLOYEES``). ``call_tool`` is used rather than
    ``handle`` because ``handle`` applies a 30-calls/minute limiter that
    would refuse requests once the engine gets fast. The mix is
    forensic_decomposition (100 bootstrap replicates),
    simulate_remediation and generate_efficient_frontier. Predictors are
    the eight numeric columns, plus the 12-level ``dept`` on the
    decomposition requests. Remediation requests leave ``dept`` out because
    ``simulate_remediation`` with it overflows the JVM stack; frontier
    requests leave it out because with it a run no longer fits its share
    of the benchmark's time budget (see README).

batch
    One employee-year payroll generated and cached during set-up, run
    through a cycle of ``OaxacaBuilder.run`` at 500 bootstrap replicates
    with the categorical ``dept``, ``decompose_quantile(0.9)`` at 100
    replicates, and ``estimate_akm``.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np

import oracle
import payroll

Check = Callable[[object], list[str]]


@dataclass
class Op:
    kind: str
    call: Callable[[], object]
    check: Check


def _finite(*values: float) -> bool:
    return all(isinstance(v, (int, float)) and math.isfinite(v) for v in values)


# ---------------------------------------------------------------------------
# interactive
# ---------------------------------------------------------------------------

# verify_adjustments and check_defensibility are left out of the mix: with
# them a run no longer fits its share of the benchmark's time budget (see
# README.md)
TOOLS = {
    "decompose": "forensic_decomposition",
    "remediate": "simulate_remediation",
    "frontier": "generate_efficient_frontier",
}
# the kinds whose requests carry the categorical dept
WITH_DEPT = {"decompose"}
MIN_EMPLOYEES, MAX_EMPLOYEES = 500, 12_000
# employees per request, by kind. Fixed rather than drawn from the seed: a
# decomposition with dept costs more the more employees it has, and sizes
# drawn per seed made the round's time vary with the seed, not the engine.
# Remediation and frontier latency is flat in size, so they carry the two
# ends of the range (the largest CSV is the one nearest the body cap).
EMPLOYEES = {"decompose": 4_000, "remediate": MAX_EMPLOYEES, "frontier": MIN_EMPLOYEES}
MAX_BODY_BYTES = 2 * 1024 * 1024
WARMUP_INDEX = 1 << 30  # company stream index no measured request uses


class Interactive:
    kinds = list(TOOLS)

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.server = None

    def setup(self, spark, workdir: str) -> None:
        from oaxaca_blinder_rs_spark.mcp_server import McpServer

        self.server = McpServer(spark)

    def warmup(self) -> list[str]:
        # the first Spark job of a fresh process (~5 s) is paid here rather
        # than by the first measured request
        from oaxaca_blinder_rs_spark.sources.csv import read_csv_bytes

        frame = payroll.company(self.seed, WARMUP_INDEX, MIN_EMPLOYEES)
        n = read_csv_bytes(self.server.spark(), payroll.to_csv(frame)).count()
        return [] if n == MIN_EMPLOYEES else [f"ingested {n} of {MIN_EMPLOYEES} rows"]

    def finish(self) -> list[str]:
        return []

    def ops(self) -> Iterator[Op]:
        """One round, in a fixed order (a seed-shuffled order moved the
        first-call costs between kinds from run to run)."""
        for i, kind in enumerate(self.kinds):
            yield self._request(i, kind, EMPLOYEES[kind])

    def _request(self, index: int, kind: str, n: int) -> Op:
        frame = payroll.company(self.seed, index, n)
        ref = oracle.Company(frame, categorical=kind in WITH_DEPT)
        csv = payroll.to_csv(frame)
        if len(csv.encode()) > MAX_BODY_BYTES:
            raise ValueError(f"request body {len(csv)} bytes exceeds the transport cap")
        args = {
            "csv_content": csv,
            "outcome_variable": payroll.OUTCOME,
            "group_variable": payroll.GROUP,
            "reference_group": payroll.REFERENCE,
            "predictors": list(payroll.NUMERIC),
        }
        if kind in WITH_DEPT:
            args["categorical_predictors"] = list(payroll.CATEGORICAL)
        if kind == "decompose":
            args["bootstrap_reps"] = 100
            check = lambda out: _check_decompose(out, ref)  # noqa: E731
        elif kind == "remediate":
            budget = round(0.03 * int(ref.is_f.sum()), 4)
            args["budget"] = budget
            check = lambda out: _check_remediate(out, ref, budget)  # noqa: E731
        else:
            check = lambda out: _check_frontier(out, ref)  # noqa: E731
        tool = TOOLS[kind]
        return Op(kind, lambda: self.server.call_tool(tool, args), check)


def _check_decompose(out: dict, ref: oracle.Company) -> list[str]:
    errs = []
    if not oracle.close(out["total_gap"], ref.gap, rel=1e-9, abs_=1e-9):
        errs.append(f"total_gap {out['total_gap']} != group-mean gap {ref.gap}")
    if not _finite(out["explained_gap"], out["unexplained_gap"]) or abs(
        out["explained_gap"] + out["unexplained_gap"] - out["total_gap"]
    ) > 1e-9:
        errs.append("explained + unexplained != total")
    want = ref.detailed_explained()
    got = {c["name"]: c["estimate"] for c in out["detailed_explained"]}
    if set(got) != set(want):
        errs.append(f"detailed components {sorted(got)} != {sorted(want)}")
    else:
        for name, v in want.items():
            if not oracle.close(got[name], v, rel=1e-6, abs_=1e-9):
                errs.append(f"explained[{name}] {got[name]} != numpy {v}")
    if out["data_summary"]["group_a_count"] != int(ref.is_m.sum()):
        errs.append("reference-group count mismatch")
    if not _finite(out["unexplained_standard_error"]) or out["unexplained_standard_error"] <= 0:
        errs.append("bootstrap standard error missing")
    return errs


def _check_remediate(out: dict, ref: oracle.Company, budget: float) -> list[str]:
    errs = []
    if not oracle.close(out["original_gap"], ref.gap, rel=1e-9, abs_=1e-9):
        errs.append(f"original_gap {out['original_gap']} != group-mean gap {ref.gap}")
    # engine convention: new_gap = original_gap + cost / n_target, with the
    # gap signed non-reference minus reference, so closing moves it to 0
    if not abs(out["new_gap"]) <= abs(out["original_gap"]) + 1e-12:
        errs.append(f"|new_gap| {out['new_gap']} > |original_gap| {out['original_gap']}")
    if not 0.0 < out["total_cost"] <= budget * (1 + 1e-9):
        errs.append(f"total_cost {out['total_cost']} outside (0, {budget}]")
    coefs = [c["value"] for c in out["model_coefficients"]]
    if not np.allclose(coefs, ref.beta_ref, rtol=1e-6, atol=1e-8):
        errs.append("fair-wage coefficients differ from numpy OLS on the reference group")
    if any(a["adjustment"] < 0 for a in out["adjustments"]):
        errs.append("negative adjustment")
    return errs


def _check_frontier(out: dict, ref: oracle.Company) -> list[str]:
    pts = out["points"]
    errs = []
    if len(pts) != 51 or pts[0]["budget"] != 0.0:
        errs.append(f"frontier has {len(pts)} points")
    elif any(b["budget"] < a["budget"] for a, b in zip(pts, pts[1:])):
        errs.append("frontier budgets not increasing")
    elif not oracle.close(pts[0]["t_statistic"], ref.frontier_t0()):
        errs.append(f"t at zero budget {pts[0]['t_statistic']} != numpy {ref.frontier_t0()}")
    return errs


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------

BATCH_WORKERS = 30_000  # x 2 years = 60k employee-year rows
WORKERS_PER_FIRM = 50
PARQUET_PARTS = 4


class Batch:
    kinds = ["mean_boot", "rif_boot", "akm"]

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.df = None
        self.frame = None
        self.ref = None
        self.first: dict[str, tuple] = {}

    def setup(self, spark, workdir: str) -> None:
        path = os.path.join(workdir, "payroll")
        self.frame = payroll.panel(self.seed, BATCH_WORKERS, BATCH_WORKERS // WORKERS_PER_FIRM)
        payroll.write_parquet(self.frame, path, PARQUET_PARTS)
        self.df = spark.read.parquet(path).cache()
        self.df.count()

    def warmup(self) -> list[str]:
        self.ref = oracle.Payroll(self.frame)
        return []  # set-up already ran the first jobs (cache + count)

    def finish(self) -> list[str]:
        """Fit AKM once more, untimed: it must repeat the measured fit
        exactly."""
        return self._check("akm", self._stage("akm", self.df)())

    def ops(self) -> Iterator[Op]:
        for kind in self.kinds:
            yield Op(kind, self._stage(kind, self.df), lambda res, kind=kind: self._check(kind, res))

    @staticmethod
    def _stage(kind: str, df):
        import oaxaca_blinder_rs_spark as ob

        def builder(reps: int):
            return (
                ob.OaxacaBuilder(df, payroll.OUTCOME, payroll.GROUP, payroll.REFERENCE)
                .predictors(payroll.NUMERIC)
                .categorical_predictors(payroll.CATEGORICAL)
                .bootstrap_reps(reps)
            )

        if kind == "mean_boot":
            return lambda: builder(500).run()
        if kind == "rif_boot":
            return lambda: builder(100).decompose_quantile(0.9)
        return lambda: ob.estimate_akm(df, payroll.OUTCOME, "worker", "firm", ["tenure", "tenure_sq", "age_sq"])

    def _check(self, kind: str, res) -> list[str]:
        """Check one stage's result against the NumPy references, and that
        it repeats the first result of its kind."""
        ref = self.ref
        if kind == "akm":
            beta = [float(b) for b in np.ravel(res.beta)]
            if not (_finite(res.r2, *beta) and 0.0 < res.r2 <= 1.0):
                return [f"AKM result not finite: r2={res.r2} beta={beta}"]
            key = (res.r2, *beta)
            errs = []
        else:
            errs = []
            e, u = res.two_fold.aggregate[0], res.two_fold.aggregate[1]
            if kind == "mean_boot":
                gap, tol = ref.gap, 1e-9
                if not np.allclose(res.beta_star, ref.beta_a, rtol=1e-6, atol=1e-8):
                    errs.append("group-A coefficients differ from numpy OLS")
            else:
                # mean RIF = q + (tau - F_n(q)) / f: within 1/n of the quantile gap
                gap, tol = ref.q90_gap, 1e-3
            if not oracle.close(res.total_gap, gap, rel=0.0, abs_=tol):
                errs.append(f"total_gap {res.total_gap} != numpy {gap}")
            if abs(e.estimate + u.estimate - res.total_gap) > 1e-9:
                errs.append("explained + unexplained != total")
            if not (_finite(e.std_err, u.std_err) and e.std_err > 0 and u.std_err > 0):
                errs.append("bootstrap standard errors missing")
            key = (res.total_gap, e.estimate, e.std_err, u.std_err)
        prev = self.first.setdefault(kind, key)
        if not np.allclose(prev, key, rtol=1e-9, atol=1e-12):
            errs.append(f"{kind} result changed between repeats: {prev} vs {key}")
        return errs


WORKLOADS = {"interactive": Interactive, "batch": Batch}
