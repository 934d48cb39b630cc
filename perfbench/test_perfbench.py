"""Self-tests of the benchmark, at a tiny input size.

    python3 -m pytest perfbench/test_perfbench.py -q

Each command-line case starts its own Spark session (about half a minute
each on a 4-core machine).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
TINY = ["--convs", "40", "--avg-turns", "60", "--seconds", "1"]


def run_bench(workload: str, trace: int, work: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--trace", str(trace), "--work", work, *TINY],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert "detail" in json.loads(lines[-2])
    return json.loads(lines[-1])


def check_result(res: dict, spec_metrics: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in spec_metrics}
    for m in spec_metrics:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_print_with_units(workload, tmp_path):
    res = run_bench(workload, 0, str(tmp_path / "work"))
    check_result(res, SPEC["end_to_end"])
    for name, m in res["metrics"].items():
        assert m["value"] > 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_per_layer_metric(workload, tmp_path):
    res = run_bench(workload, 1, str(tmp_path / "work"))
    check_result(res, SPEC["per_layer"])


def test_gate_fails_on_altered_turn_cnt(tmp_path):
    """A copy of a finished store with one t1h ``turn_cnt`` changed must
    fail the tier check that the unchanged store passes."""
    from grass_spark.operators.rollup import RollupPipeline
    from workloads import Bench, Config

    cfg = Config(workload="append_blocks", seed=5, seconds=0.0, trace=False,
                 work=str(tmp_path / "work"), convs=40, avg_turns=60)
    b = Bench(cfg, 0.0)
    try:
        b.start()
        b.generate()
        b.land("base")
        pipe = b.pipeline(b.store)
        b.rollup(pipe, "setup:build", ["base"], incremental=True)
        assert b.check_tiers(pipe, b.raw_pd, ["base"]) == 0

        copy = str(tmp_path / "copy")
        shutil.copytree(b.store, copy)
        hot = next(
            os.path.join(d, f) for d, _, fs in sorted(os.walk(os.path.join(copy, "t1h")))
            for f in sorted(fs)
            if f.endswith(".parquet")
            and "conv-00000000" in pq.read_table(os.path.join(d, f)).column("conv_id").to_pylist()
        )
        table = pq.read_table(hot)
        row = table.column("conv_id").to_pylist().index("conv-00000000")
        counts = table.column("turn_cnt").to_pylist()
        counts[row] += 1
        i = table.schema.get_field_index("turn_cnt")
        table = table.set_column(i, "turn_cnt", pa.array(counts, table.schema.field(i).type))
        pq.write_table(table, hot, use_deprecated_int96_timestamps=True)  # as Spark wrote it
        # Hadoop's local file system verifies the checksum file it wrote
        os.remove(os.path.join(os.path.dirname(hot), f".{os.path.basename(hot)}.crc"))

        altered = RollupPipeline(copy, layout="auto", compress=True)
        assert b.check_tiers(altered, b.raw_pd, ["base"]) == 1
    finally:
        b.close()


def test_disturbed_units_are_not_timed(monkeypatch, tmp_path):
    """A unit during which the machine's CPU steal passes the limit is
    redone, and only the ops of undisturbed units are measured."""
    import workloads
    from workloads import Bench, Config

    ticks = [0] * 8                       # user, ..., steal
    calls = []

    def unit(redo):
        calls.append(redo)
        ticks[0] += 100
        ticks[7] += 100 if len(calls) == 1 else 0  # the first loses half its CPU
        time.sleep(0.01)
        return [{"kind": "op", "unit": len(calls)}]

    monkeypatch.setattr(workloads, "cpu_times", lambda: list(ticks))
    cfg = Config(workload="append_blocks", seed=1, seconds=0.015, trace=False,
                 work=str(tmp_path / "work"))
    b = Bench(cfg, 0.0)
    b.measure(unit, per_round=2)
    assert calls == [False, True, False]
    assert b.unit_steal == [0.5, 0.0, 0.0]
    assert b.ops == [{"kind": "op", "unit": 2}, {"kind": "op", "unit": 3}]
    assert not b.disturbed
