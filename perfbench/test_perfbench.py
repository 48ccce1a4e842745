"""Tests of the benchmark's own logic (only the process-tree CPU test
starts a Spark session).

    python3 -m pytest perfbench -q
"""

import io
import json
import os
import signal
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import metrics  # noqa: E402
import oracle  # noqa: E402
import payroll  # noqa: E402
import proctree  # noqa: E402
import spans  # noqa: E402


def test_company_csv_is_byte_identical_per_seed():
    a = payroll.to_csv(payroll.company(5, 3, 700))
    b = payroll.to_csv(payroll.company(5, 3, 700))
    assert a == b
    assert a != payroll.to_csv(payroll.company(6, 3, 700))
    assert a != payroll.to_csv(payroll.company(5, 4, 700))


def test_csv_parses_back_to_the_generated_values():
    import pandas as pd

    frame = payroll.company(1, 0, 400)
    pdf = pd.read_csv(io.StringIO(payroll.to_csv(frame)))
    for col in payroll.NUMERIC + [payroll.OUTCOME]:
        assert np.array_equal(pdf[col].to_numpy(), frame[col])
    assert pdf[payroll.GROUP].tolist() == frame[payroll.GROUP].tolist()


def test_largest_company_fits_the_transport_cap():
    from workloads import MAX_BODY_BYTES, MAX_EMPLOYEES

    assert len(payroll.to_csv(payroll.company(1, 0, MAX_EMPLOYEES)).encode()) < MAX_BODY_BYTES


def test_panel_parquet_is_byte_identical_per_seed(tmp_path):
    def files(d, seed):
        payroll.write_parquet(payroll.panel(seed, 2_000, 40), str(d), 4)
        return [(p.name, p.read_bytes()) for p in sorted(d.iterdir())]

    a = files(tmp_path / "a", 9)
    assert len(a) == 4
    assert a == files(tmp_path / "b", 9)
    assert a != files(tmp_path / "c", 10)


def test_panel_has_movers_and_planted_gap():
    frame = payroll.panel(3, 5_000, 100)
    n = 5_000
    assert len(frame[payroll.OUTCOME]) == 2 * n
    moved = frame["firm"][:n] != frame["firm"][n:]
    assert 0.1 < moved.mean() < 0.3
    ref = oracle.Payroll(frame)
    assert ref.gap < -0.05


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_more_than_ten_samples(n):
    assert metrics.tail_percentile([float(i) for i in range(n)]) is None


@pytest.mark.parametrize("n,p", [(11, 9), (20, 50), (40, 75), (100, 90), (1000, 99)])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, p):
    rng = np.random.default_rng(n)
    samples = rng.permutation(n).astype(float).tolist()
    got_p, value = metrics.tail_percentile(samples)
    assert got_p == p
    assert sum(s > value for s in samples) == metrics.TAIL_BEYOND
    # one percentile higher would leave fewer than ten samples beyond it
    rank = -(-(p + 1) * n // 100)  # nearest-rank position of p+1
    assert n - rank < metrics.TAIL_BEYOND


def test_kind_weighted_summaries():
    samples = {"a": [1.0, 3.0, 2.0], "b": [10.0], "c": [4.0, 6.0]}
    assert metrics.round_seconds(samples) == 2.0 + 10.0 + 5.0
    assert metrics.op_p50(samples) == 5.0


def _span(tracer, name, start, end, parent):
    tracer.spans.append(spans.Span(name, start, end, parent, 0))
    return len(tracer.spans) - 1


def test_self_time_subtracts_union_of_direct_children():
    t = spans.Tracer()
    root = _span(t, "mcp", 0.0, 10.0, None)
    c1 = _span(t, "builder.run", 1.0, 3.0, root)
    _span(t, "builder.run", 2.0, 5.0, root)  # overlaps c1
    _span(t, "akm.run", 8.0, 12.0, root)  # runs past the parent's end
    _span(t, "linalg.group_stats", 1.5, 2.5, c1)  # grandchild
    got = t.self_times()
    assert got["mcp"] == pytest.approx(10.0 - (4.0 + 2.0))
    assert got["builder.run"] == pytest.approx((2.0 - 1.0) + 3.0)
    assert got["linalg.group_stats"] == pytest.approx(1.0)
    assert got["akm.run"] == pytest.approx(4.0)


def test_covered_merges_and_clips():
    assert spans.covered(0.0, 10.0, []) == 0.0
    assert spans.covered(0.0, 10.0, [(2.0, 4.0), (3.0, 6.0), (7.0, 8.0)]) == pytest.approx(5.0)
    assert spans.covered(5.0, 6.0, [(0.0, 100.0)]) == pytest.approx(1.0)


def test_wrap_nests_spans_and_counts_calls():
    t = spans.Tracer()

    def inner(x):
        return x + 1

    traced_inner = t.wrap("linalg.group_stats_s", inner, count="linalg.group_stats_calls")
    traced_outer = t.wrap("builder.run_s", lambda: traced_inner(1) + traced_inner(2))
    assert traced_outer() == 5
    names = [(s.name, s.parent) for s in t.spans]
    assert names == [("builder.run_s", None), ("linalg.group_stats_s", 0), ("linalg.group_stats_s", 0)]
    assert t.counts == {"linalg.group_stats_calls": 2.0}
    assert all(s.end >= s.start for s in t.spans)


def test_install_wraps_the_names_callers_resolve_and_uninstall_restores():
    import oaxaca_blinder_rs_spark.builder as builder
    from oaxaca_blinder_rs_spark.functions import linalg

    before = builder.collect_group_stats
    saved = spans.install(spans.Tracer())
    try:
        assert builder.collect_group_stats is not before
        assert builder.collect_group_stats.__wrapped__ is before
        assert builder.OaxacaBuilder.run.__wrapped__ is not None
    finally:
        spans.uninstall(saved)
    assert builder.collect_group_stats is before
    assert linalg.collect_group_stats is before
    assert not hasattr(builder.OaxacaBuilder.run, "__wrapped__")


def test_oracle_decomposition_identities():
    ref = oracle.Company(payroll.company(2, 0, 3_000), categorical=True)
    explained = sum(ref.detailed_explained().values())
    # pooled two-fold: explained part lies between zero and the total gap here
    assert np.isfinite(explained) and abs(explained) < abs(ref.gap)
    assert np.isfinite(ref.frontier_t0()) and ref.frontier_t0() < 0


def test_benchmark_json_lists_the_metrics_the_worker_prints():
    import worker

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    for key, units in (("end_to_end", worker.E2E_UNITS), ("per_layer", worker.LAYER_UNITS)):
        assert {m["name"]: m["unit"] for m in spec[key]} == units


def test_tree_cpu_counts_the_python_workers_of_a_map_in_pandas_job(tmp_path):
    """The PySpark daemon leaves the worker's process group, so a process
    group sum would miss the Python workers' CPU; the tree sum must not."""
    from oaxaca_blinder_rs_spark.session import get_spark

    def burn_cpu(batches):  # nested, so the Python workers get it by value
        import time

        import pandas as pd

        for _ in batches:
            c0 = time.process_time()
            while time.process_time() - c0 < 0.5:
                pass
            yield pd.DataFrame({"cpu": [time.process_time() - c0]})

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ.setdefault("SPARK_GRAFT_TMP", str(tmp_path))
    spark = get_spark("perfbench-test")
    try:
        df = spark.range(0, 4, 1, 4)
        for _ in range(2):  # the first job also starts the daemon and workers
            before = proctree.snapshot(os.getpid())
            rows = df.mapInPandas(burn_cpu, "cpu double").collect()
            after = proctree.snapshot(os.getpid())
        udf_cpu = sum(r.cpu for r in rows)
        cpu, gone = proctree.cpu_between(before, after)
        assert udf_cpu >= 2.0
        assert cpu >= udf_cpu
        assert gone == 0
        other_groups = [p for p in after if p != os.getpid() and os.getpgid(p) != os.getpgrp()]
        assert other_groups  # the daemon and its workers
    finally:
        spark.stop()


def test_cpu_between_skips_ended_and_replaced_processes():
    before = {1: (10, 500), 2: (20, 300), 3: (30, 100)}
    after = {1: (10, 650), 3: (31, 40), 4: (40, 60)}  # 2 ended; pid 3 reused
    cpu, gone = proctree.cpu_between(before, after)
    assert cpu == pytest.approx((150 + 40 + 60) / proctree.CLK_TCK)
    assert gone == 2


def test_stop_all_stops_marked_processes_outside_the_process_group():
    import subprocess

    import run

    marker = f"PERFBENCH_RUN=test-{os.getpid()}"
    env = dict(os.environ, PERFBENCH_RUN=marker.partition("=")[2])
    proc = subprocess.Popen(
        [sys.executable, "-c", "import time; time.sleep(60)"], env=env, start_new_session=True
    )
    try:
        deadline = time.monotonic() + 10
        while not run.marked(marker) and time.monotonic() < deadline:
            time.sleep(0.05)  # the child's environment appears once it has started
        assert run.marked(marker) == [proc.pid]
        run.stop_all(marker)
        assert proc.wait(timeout=5) == -signal.SIGTERM
        assert run.marked(marker) == []
    finally:
        proc.kill()
        proc.wait()
