"""Self-test of the benchmark at tiny sizes (sf0.001 fixtures, a 2x
retail copy, 2 drops).  Runs every workload traced and untraced and
checks the result line against BENCHMARK.json.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace), "--smoke"],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed_and_nothing_fails(workload, trace):
    result, stdout = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"], stdout
    if workload == "stream_ingest":
        # the smoke seed has a record of admitted docs, so the check runs
        assert "matches its record" in stdout, stdout
    if not trace:
        assert f"# {workload}: fail_ratio 0.0000" in stdout
        for m in SPEC["end_to_end"]:
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]


def test_planted_wrong_result_counts_as_failure(tmp_path):
    import duckdb
    import pandas as pd
    from pyspark.sql import types as T

    import workloads
    from checks import Checker

    sf_dir = os.path.join(workloads.fixture_root(), workloads.SMOKE.fixture)
    sql = "SELECT n_nationkey, n_name FROM nation"
    rows = duckdb.connect().execute(
        f"SELECT n_nationkey, n_name FROM '{sf_dir}/nation.parquet'"
    ).fetchall()
    schema = T.StructType(
        [T.StructField("n_nationkey", T.LongType()), T.StructField("n_name", T.StringType())]
    )
    pdf = pd.DataFrame(rows, columns=schema.names)
    checker = Checker(str(tmp_path))
    args = ("smoke", sf_dir, "nation_names", sql, schema)
    assert checker.compare_query(*args, pdf) == (True, "")
    assert checker.planted_failure_caught(*args, pdf)
    wrong = pdf.assign(n_name=pdf["n_name"].str.lower())
    assert checker.compare_query(*args, wrong)[0] is False


def test_planted_check_not_run_counts_as_not_caught():
    import pandas as pd

    import workloads

    class Checker:
        def compare_query(self, *args):
            return True, ""

        def planted_failure_caught(self, *args):
            return True

    query = "tpch_q6_forecast_revenue"
    w = workloads.BatchWorkload((query,), "", "")
    op = workloads.Op(f"{query}#cold", "cold", query=query)
    w.results[op.name] = (None, pd.DataFrame())
    assert w.check(None, [op], Checker()) is False
    w.results[op.name] = (None, pd.DataFrame({"revenue": [1.0]}))
    assert w.check(None, [op], Checker()) is True
