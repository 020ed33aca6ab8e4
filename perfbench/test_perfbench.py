"""Tests of the benchmark itself: ``python -m pytest perfbench -q -p no:cacheprovider``.

Workload runs go through the command line at tiny sizes, each in its own
process, exactly as the benchmark is run.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import inputs
import run
from tracing import Tracer
from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TINY = {"audit_spans": 3000, "resume_validate": 3000,
        "infer_json_sparse": 2000, "infer_json_dense": 4000}


def bench(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(HERE / "run.py"), *args],
        capture_output=True, text=True, timeout=600, cwd=ROOT,
    )


def last_json(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_the_code():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    for wl in spec["workloads"]:
        assert WORKLOADS[wl["name"]].why == wl["why"]


@pytest.mark.parametrize(
    "workload,trace",
    [("audit_spans", 1), ("resume_validate", 1), ("infer_json_sparse", 0), ("infer_json_dense", 1)],
)
def test_workload_at_tiny_size_passes_its_checks(workload, trace):
    res = last_json(bench("--workload", workload, "--seed", "5", "--seconds", "1",
                          "--trace", str(trace), "--docs", str(TINY[workload])))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 2
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


def test_corrupted_expected_value_is_a_failed_op_not_a_crash():
    n, seed = TINY["infer_json_sparse"], 6
    docs_dir, _ = inputs.json_docs(run.WORK, True, n, seed)
    expected = docs_dir.parent / "expected_schema.json"
    try:
        expected.write_text(expected.read_text().replace('"integer"', '"boolean"', 1))
        res = last_json(bench("--workload", "infer_json_sparse", "--seed", str(seed),
                              "--seconds", "1", "--trace", "0", "--docs", str(n)))
        assert res["correct"] is False
        assert res["failed"] == res["attempted"] > 0
    finally:
        shutil.rmtree(docs_dir.parent)


def test_without_the_program_it_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "audit_spans", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=180, cwd=tmp_path,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.mark.parametrize("sparse", [True, False])
def test_json_workloads_differ_in_fast_path_use(tmp_path, sparse):
    """Sparse batches all fall back to the per-document fold; dense batches
    all take the pyarrow fast path."""
    sys.path.insert(0, str(ROOT))
    from jsons_to_schema_spark.operators.infer import _fast_json_batch_draft
    from jsons_to_schema_spark.schema_algebra import DEFAULT_CONFIG

    docs_dir, _ = inputs.json_docs(tmp_path, sparse, 20_000, 3)
    batches = [
        b.column("doc")
        for f in sorted(docs_dir.glob("*.parquet"))
        for b in pq.read_table(f).to_batches(max_chunksize=1000)
    ]
    fast = [_fast_json_batch_draft(pa.array(b), DEFAULT_CONFIG) is not None for b in batches]
    assert fast == [not sparse] * len(batches)


def test_self_time_excludes_children():
    t = Tracer()
    with t.traced_op(0):
        with t.span("a"):
            with t.span("b"):
                pass
        with t.span("a"):
            pass
    st = t.self_times(0)
    spans = t.spans
    total = spans[0]["end"] - spans[0]["start"]
    assert set(st) == {"op", "a", "b"}
    assert abs(sum(st.values()) - total) < 1e-9
    with t.span("outside"):  # no op running: nothing recorded
        pass
    assert len(t.spans) == 4


def test_tail_percentile_needs_ten_samples_beyond():
    assert run.pct_tail(list(range(10))) is None
    assert run.pct_tail(list(range(11))) == ("p9", 0)
    assert run.pct_tail(list(range(100))) == ("p90", 89)
    assert run.pct_tail(list(range(100)), lower_is_worse=True) == ("p90", 10)
