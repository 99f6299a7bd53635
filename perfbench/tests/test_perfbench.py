"""The benchmark's own tests: its inputs are a function of the seed, its
correctness check catches a lost Stream Load chunk, and every metric
BENCHMARK.json declares reaches the output with its unit.

Run with ``python3 -m pytest perfbench/tests -q`` from the checkout root.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen_cdc, gen_tables  # noqa: E402

DROPPED_LABEL = "sink_sr_bench_1_demo_t_00_0"


def _same_tree(a: Path, b: Path) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_same_seed_gives_identical_backlog_and_manifest(tmp_path):
    sizes = [300, 500, 500]
    m1 = gen_cdc.write_backlog(str(tmp_path / "a"), 11, sizes)
    m2 = gen_cdc.write_backlog(str(tmp_path / "b"), 11, sizes)
    m3 = gen_cdc.write_backlog(str(tmp_path / "c"), 12, sizes)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert m1.to_json() == m2.to_json()
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    assert m1.to_json() != m3.to_json()
    g = m1.to_json()["guards"]
    assert sum(g.values()) == sum(sizes) == m1.n_input
    assert all(v > 0 for v in g.values())
    assert g["n_archived"] == sum(t["count"] for t in m1.tables.values())


def test_same_seed_gives_identical_tables(tmp_path):
    gen_tables.write_tables(str(tmp_path / "a"), 5)
    gen_tables.write_tables(str(tmp_path / "b"), 5)
    gen_tables.write_tables(str(tmp_path / "c"), 6)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_routes_are_skewed():
    src = gen_cdc.EnvelopeSource(3)
    src.take(20000)
    counts = sorted((t["count"] for t in src.manifest.tables.values()), reverse=True)
    assert counts[0] > 5 * counts[-1]


class DroppingTransport:
    """Wraps a transport and silently drops one Stream Load chunk while
    reporting success, as a lossy sink would."""

    def __init__(self, inner):
        self.inner = inner

    def put(self, db_tb_name, label, payload):
        if label == DROPPED_LABEL:
            return {"Status": "Success", "NumberLoadedRows": 0}
        return self.inner.put(db_tb_name, label, payload)


def test_dropped_sr_chunk_fails_the_check(tmp_path):
    from perfbench import common
    from perfbench.cdc import run_cdc

    work = tmp_path / "work"
    work.mkdir()
    common.prepare_env(work)
    spark = common.start_session(work, "perfbench-test")
    try:
        ctx = common.Ctx(
            work=work, seed=4, seconds=2.0, spark=spark,
            transport_hook=DroppingTransport,
        )
        out = run_cdc(ctx)
    finally:
        common.stop_session(spark)
    assert any(
        p.startswith("backlog: sr: demo_t_00 ") for p in out.problems
    ), out.problems
    assert not any("adb:" in p for p in out.problems), out.problems


def _declared():
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as f:
        return json.load(f)


def test_benchmark_json_matches_the_code():
    from perfbench.run import E2E_UNITS, WORKLOADS, per_layer_units

    spec = _declared()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


# The design's named figures, printed as report lines beside the
# contract metrics (see README.md for how they map).
REPORTED = {
    "cdc": (
        "cdc_rows_per_s", "cdc_epoch_p50_s", "cdc_epoch_p75_s",
        "cdc_freshness_p50_s", "cdc_freshness_p90_s", "error_rate",
    ),
    "analytics_mix": (
        "analytics_orchestrated_s", "analytics_compute_s", "error_rate",
    ),
}


# Every workload reports every metric of its kind, so one traced and one
# untraced run cover both lists.
@pytest.mark.parametrize("workload,trace", [("cdc", 1), ("analytics_mix", 0)])
def test_every_metric_is_printed_with_its_unit(workload, trace):
    spec = _declared()
    key = "per_layer" if trace else "end_to_end"
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "4", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    got = result["metrics"]
    assert set(got) == {m["name"] for m in spec[key]}
    for m in spec[key]:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], (int, float))
    lines = proc.stdout.splitlines()
    assert not any(line.startswith("MISMATCH") for line in lines)
    for name in REPORTED[workload]:
        fields = [ln.split() for ln in lines if ln.split()[:2] == [name, "="]]
        assert len(fields) == 1 and len(fields[0]) == 4, name
        float(fields[0][2])
