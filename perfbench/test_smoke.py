"""Smoke test of the benchmark command and its JSON contract.

Run from the repository root (takes about two minutes; it starts Spark
twice)::

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import fixtures  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

TINY = dict(keys=300, generations=3, row_share=0.6, names=4,
            names_per_row=3, value_bytes=16, tombstone_share=0.2,
            ttl_share=0.2, compressed_every=2)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_what_the_command_prints():
    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(workloads.OPS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} \
        == run.PER_LAYER


def test_expected_results_agree_with_an_independent_read(tmp_path,
                                                         monkeypatch):
    """The manifest's answers match what the codec reads back from the
    generated files, and the same seed gives the same manifest."""
    from sstable_hadoop_spark.sources import codec

    monkeypatch.setitem(fixtures.SPECS, "merge_snapshot", TINY)
    a = fixtures.generate("merge_snapshot", 7, str(tmp_path / "a"))
    b = fixtures.generate("merge_snapshot", 7, str(tmp_path / "b"))
    assert a["expected"] == b["expected"]

    cells = 0
    best = {}
    for fn in sorted(os.listdir(tmp_path / "a")):
        if not fn.endswith("-Data.db"):
            continue
        gen = codec.generation_of(fn)
        for row in codec.read_data_rows(str(tmp_path / "a" / fn)):
            for c in row.cells:
                cell = (c.name, c.state, c.data, c.timestamp, c.ttl,
                        c.expiration)
                cells += 1
                rank = {"NORMAL": 0, "EXPIRING": 1, "DELETED": 2}[c.state]
                order = (c.timestamp, rank, gen)
                held = best.get((row.key, c.name))
                if held is None or order > held[0]:
                    best[(row.key, c.name)] = (order, cell, gen)
    assert a["cells"] == cells
    merge = sum(fixtures.flat_crc(k, cell, gen)
                for (k, _n), (_o, cell, gen) in best.items())
    assert a["expected"]["merge"]["n"] == len(best)
    assert a["expected"]["merge"]["h"] == merge

    gc_ms = a["gc_before_ms"]
    live = [(k, cell) for (k, _n), (_o, cell, _g) in best.items()
            if not (cell[1] == "DELETED" and cell[3] < gc_ms * 1000)
            and not (cell[1] == "EXPIRING" and cell[5] <= gc_ms)]
    assert a["expected"]["compact"]["n"] == len(live)
    assert a["expected"]["compact"]["h"] == sum(
        fixtures.flat_crc(k, cell, a["new_generation"]) for k, cell in live)


def _run(trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "merge_snapshot",
         "--seed", "0", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
def test_command_prints_the_contract_line(trace):
    out = _run(trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 1
    section = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in _bench()[section]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float))
               for v in out["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "merge_snapshot",
         "--seed", "0", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
