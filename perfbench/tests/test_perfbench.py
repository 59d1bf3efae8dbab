"""The benchmark's own tests: the tail rule, generator determinism, the
pipeline and query output checks, and a tiny-input smoke run of each
workload through the same code path the timed runs take.

Run from the repository root:  python -m pytest perfbench/tests -q
(the smoke runs start Spark; about five minutes on 4 cores).
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracer  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_tail_is_p90_or_the_sample_with_ten_beyond():
    assert run.tail_stat([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)  # < 10 ops: slowest
    value, pct, beyond = run.tail_stat([float(i) for i in range(1, 51)])
    assert (value, pct, beyond) == (45.0, 90.0, 5)  # p90 by nearest rank
    value, pct, beyond = run.tail_stat([float(i) for i in range(1, 201)])
    assert (value, beyond) == (190.0, 10)  # ten samples beyond it
    assert pct == pytest.approx(95.0)
    with pytest.raises(ValueError):
        run.tail_stat([])


def test_disturbed_units_are_left_out_while_two_undisturbed_ones_succeed():
    quiet, noisy = run.STEAL_MAX / 2, run.STEAL_MAX * 2
    # (unit, latency, steal share of the unit, succeeded)
    record = [(0, 5.0, quiet, True), (1, 9.0, noisy, True), (2, 6.0, quiet, True), (2, 1.0, quiet, False)]
    used, undisturbed = run.select_ops(record)
    assert undisturbed and used == [record[0], record[2], record[3]]
    s = run.summarize([30.0], record, attempted=4, failed=1)
    assert (s["op_p50_s"], s["op_tail_s"], s["ops"]) == (5.5, 6.0, 2)
    assert s["ops_per_s"] == pytest.approx(2 / 12.0)  # failed op time counts
    # one undisturbed unit is not enough, however many ops it ran: every op is used
    record = [(0, 5.0, quiet, True), (0, 4.0, quiet, True), (1, 9.0, noisy, True)]
    assert run.select_ops(record) == (record, False)


def _files(d: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


def _same_tree(a: str, b: str) -> None:
    assert _files(a) == _files(b)
    for rel in _files(a):
        assert filecmp.cmp(os.path.join(a, rel), os.path.join(b, rel), shallow=False), rel


def _etl_inputs(out: str, seed: int) -> None:
    sizes = gen.TINY_SIZES
    retail = gen.write_etl_dims(f"{out}/dims", seed, sizes, 2)
    for b, month in enumerate(gen.etl_months(seed, 2)):
        gen.write_landing(f"{out}/dims", f"{out}/land{b}", f"{out}/expect{b}.parquet",
                          seed, b, month, gen.TINY_ROWS_PER_MONTH, sizes, retail, 2)


def test_generator_same_seed_gives_byte_identical_inputs(tmp_path):
    for name in ("a", "b"):
        gen.write_tables(str(tmp_path / name / "base"), 7, gen.TINY_SIZES, 2)
        gen.permuted_copy(str(tmp_path / name / "base"), str(tmp_path / name / "copy"), 70, 2)
        _etl_inputs(str(tmp_path / name / "etl"), 7)
    _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    gen.write_tables(str(tmp_path / "c"), 8, gen.TINY_SIZES, 2)
    assert not filecmp.cmp(str(tmp_path / "a/base/documents.parquet"),
                           str(tmp_path / "c/documents.parquet"), shallow=False)


def test_landing_plants_every_quarantine_route_and_a_tie(tmp_path):
    _etl_inputs(str(tmp_path), 5)
    routes = sorted(os.listdir(tmp_path / "land0"))
    assert len(routes) == 7
    import duckdb

    con = duckdb.connect()
    expected = checks.expected_outputs(con, str(tmp_path / "expect0.parquet"), str(tmp_path / "dims"))
    assert checks.has_incentive_tie(expected)
    # the planted orphan-customer rows vanish through the inner join
    total = con.execute(f"SELECT count(*) FROM '{tmp_path}/expect0.parquet'").fetchone()[0]
    assert expected["customer_mart"][0][0] == total - 3


def test_batch_check_fails_on_one_dropped_row(tmp_path):
    _etl_inputs(str(tmp_path), 5)
    import duckdb

    expected = checks.expected_outputs(duckdb.connect(), str(tmp_path / "expect0.parquet"),
                                       str(tmp_path / "dims"))
    counts = {
        "customer_mart": expected["customer_mart"][0][0],
        "sales_team_mart": expected["customer_mart"][0][0],
        "customer_monthly_purchase": len(expected["customer_monthly_purchase"]),
        "sales_team_incentive": len(expected["sales_team_incentive"]),
    }
    assert checks.compare_batch(expected, expected, counts) == []
    written = dict(expected, customer_monthly_purchase=expected["customer_monthly_purchase"][1:])
    errs = checks.compare_batch(expected, written, counts)
    assert errs and "customer_monthly_purchase" in errs[0]


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_traced_smoke_run(workload):
    """The real entry point, tiny inputs, traced: checks pass and every
    per-layer metric of BENCHMARK.json is reported."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "1", "--tiny"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = _last_json(proc.stdout)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 3, proc.stdout
    assert list(res["metrics"]) == [m["name"] for m in SPEC["per_layer"]]
    assert "self %" in proc.stdout and "tracing overhead" in proc.stdout


def test_untraced_run_counts_a_dropped_row_as_a_failed_op(monkeypatch, capsys):
    """Drop one row from q02's result before the oracle comparison: the
    run still completes, and every q02 op counts as failed."""
    real = checks.check_query

    def drop_one(spark, con, name, data_dir, transform=None):
        if name != "q02_sales_team_incentive":
            return real(spark, con, name, data_dir)
        return real(spark, con, name, data_dir,
                    transform=lambda df: df.orderBy(*df.columns).offset(1))

    monkeypatch.setattr(checks, "check_query", drop_one)
    monkeypatch.chdir(REPO)
    assert run.main(["--workload", "queries", "--seed", "3", "--seconds", "1", "--tiny"]) == 0
    res = _last_json(capsys.readouterr().out)
    assert not res["correct"]
    assert res["failed"] >= 1 and res["failed"] <= res["attempted"]
    assert list(res["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]


def test_benchmark_json_per_layer_matches_the_tracer():
    assert [m["name"] for m in SPEC["per_layer"]] == list(tracer.PER_LAYER)
    for m in SPEC["per_layer"]:
        assert (m["unit"], m["better"]) == tracer.PER_LAYER[m["name"]]
