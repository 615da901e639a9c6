"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench/tests -q

The end-to-end cases start Spark at the ``tiny`` size: four runs of
under a minute each.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _tree(root):
    """(path, size, mtime) of every file under root, .git aside."""
    out = set()
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x != ".git"]
        for f in files:
            p = os.path.join(d, f)
            st = os.lstat(p)
            out.add((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
    return out


# -- generator ----------------------------------------------------------------

def _bytes(tmp, name, seed, month):
    path = os.path.join(tmp, name)
    gen.write_month(path, seed, 2021, month, 500, 5)
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_generator_same_seed_same_bytes(tmp_path):
    assert _bytes(tmp_path, "a", 7, 3) == _bytes(tmp_path, "b", 7, 3)
    assert _bytes(tmp_path, "c", 8, 3) != _bytes(tmp_path, "d", 7, 3)
    assert _bytes(tmp_path, "e", 7, 4) != _bytes(tmp_path, "f", 7, 3)


def test_generator_expected_fact_rows_closed_form():
    """Exact dedup, then the fact contract (passengers 1-6, distance
    5-500, fare > 0, duration < 24 h), keeps exactly the valid rows."""
    df = gen.month_table(3, 2021, 2, 1000, 17).to_pandas()
    assert len(df) == 1000 + 17 + len(gen.VIOLATIONS)
    df = df.drop_duplicates()
    minutes = (df.tpep_dropoff_datetime - df.tpep_pickup_datetime).dt.total_seconds() // 60
    kept = df[
        df.passenger_count.between(1, 6)
        & df.trip_distance.astype("float32").between(5.0, 500.0)
        & (df.fare_amount > 0)
        & (minutes < 1440)
    ]
    assert len(kept) == gen.expected_fact_rows(1000)


# -- BENCHMARK.json -----------------------------------------------------------

def test_spec_names_the_workloads_run_py_knows():
    sys.path.insert(0, ROOT)
    import run

    assert [w["name"] for w in SPEC["workloads"]] == list(run.workloads())
    assert any(m["name"] == "setup_s" for m in SPEC["end_to_end"])


def test_a_failed_operation_drops_only_its_cycle():
    sys.path.insert(0, ROOT)
    import run

    ok = {"ok": True, "latency_s": 1.0}
    raised = {"latency_s": None, "error": "Traceback ..."}
    records = [ok, ok, ok, raised, ok, ok, dict(ok, ok=False), ok]
    assert run.good_cycles(records, 2) == [[ok, ok], [ok, ok]]
    assert run.good_cycles([raised], 1) == []
    assert run._p50([]) is None


def test_op_p50_averages_the_median_of_each_kind():
    sys.path.insert(0, ROOT)
    import run

    def rec(s):
        return {"ok": True, "latency_s": s}

    # two kinds of operation (positions in the cycle), three cycles
    good = [[rec(1.0), rec(0.1)], [rec(3.0), rec(0.3)], [rec(2.0), rec(0.2)]]
    assert run.kind_p50_ms(good) == pytest.approx((2.0 + 0.2) / 2 * 1e3)
    assert run.kind_p50_ms([]) is None


def test_bare_directory_fails_without_result(tmp_path):
    """With only BENCHMARK.json and perfbench/ present, the run exits
    non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", "etl_monthly", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# -- end to end, tiny size ----------------------------------------------------

def _result(workload, trace):
    proc = _run("--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", str(trace), "--size", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert lines[-2].startswith("detail ")
    return json.loads(lines[-1]), json.loads(lines[-2][len("detail "):])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_runs_metrics_and_repeatable_counts(workload):
    before = _tree(ROOT)
    plain, plain_detail = _result(workload, 0)
    traced, traced_detail = _result(workload, 1)
    assert _tree(ROOT) == before, "a run changed the tree"

    for result, spec_key in ((plain, "end_to_end"), (traced, "per_layer")):
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0
        assert result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for m in SPEC["end_to_end"]:
        assert plain["metrics"][m["name"]]["value"] > 0

    # the same seed plans the same Spark work, traced or not
    assert plain_detail["spark_counts_first_cycle"] == traced_detail["spark_counts_first_cycle"]
    n = min(len(plain_detail["spark_counts_per_op"]), len(traced_detail["spark_counts_per_op"]))
    assert plain_detail["spark_counts_per_op"][:n] == traced_detail["spark_counts_per_op"][:n]
    for key in ("spark.jobs", "spark.stages", "spark.tasks"):
        assert traced["metrics"][key]["value"] == plain_detail["spark_counts_first_cycle"][key[6:]]
    assert traced_detail["spans"], "a traced run records spans"
    # whole cycles are traced in turn, so both halves are there
    assert traced_detail["trace_overhead"]["traced_cycles"] >= 1
    assert traced_detail["trace_overhead"]["untraced_cycles"] >= 1
