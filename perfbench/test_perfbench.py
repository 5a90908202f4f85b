"""The benchmark's own tests: archive checks and a tiny-scale smoke run.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import run as bench  # noqa: E402
import workloads as W  # noqa: E402
from tilemaker_spark.kernels import mvt as M  # noqa: E402
from tilemaker_spark.sinks.mbtiles import write_mbtiles  # noqa: E402
from tilemaker_spark.sinks.pmtiles import tile_id, write_pmtiles  # noqa: E402


class _Rows:
    """Stands in for a tiles DataFrame: the sinks only select the four
    columns and iterate them locally."""

    def __init__(self, rows):
        self.rows = rows

    def select(self, *cols):
        return self

    def toLocalIterator(self):
        return iter(self.rows)


def _tiles():
    rows = []
    for z, x, y in [(0, 0, 0), (1, 1, 0), (2, 1, 2), (14, 8580, 5737)]:
        lb = M.LayerBuilder("water")
        lb.add_feature(M.GEOM_POINT, M.encode_point_geom(
            [[0.25 + x % 3 / 10, 0.5]], 4096), {"z": z})
        rows.append({"z": z, "x": x, "y": y, "tile": M.build_tile([lb])})
    return rows


def test_tile_id_inverse():
    for z, x, y in [(0, 0, 0), (3, 5, 2), (7, 100, 27), (14, 8580, 5737)]:
        assert W.zxy_from_tile_id(tile_id(z, x, y)) == (z, x, y)


@pytest.mark.parametrize("kind", ["pmtiles", "mbtiles"])
def test_check_fails_on_corrupted_tile_blob(tmp_path, kind):
    rows = _tiles()
    golden = {"per_zoom": {"0": 1, "1": 1, "2": 1, "14": 1}}
    path = str(tmp_path / f"t.{kind}")
    if kind == "pmtiles":
        write_pmtiles(_Rows(rows), path)
        read_all = W.read_pmtiles_all
    else:
        write_mbtiles(_Rows(rows), path)
        read_all = W.read_mbtiles_all
    errors, stats = W.check_archive(read_all(path), path, kind, golden)
    assert errors == [] and stats["per_zoom"] == golden["per_zoom"]

    # overwrite the middle of one tile's gzip stream in place
    victim = rows[2]["tile"]
    if kind == "pmtiles":
        data = Path(path).read_bytes()
        at = data.index(victim) + len(victim) // 2
        Path(path).write_bytes(data[:at] + b"\xff" * 4 + data[at + 4:])
    else:
        import sqlite3
        conn = sqlite3.connect(path)
        bad = victim[:len(victim) // 2] + b"\xff" * 4
        conn.execute("UPDATE tiles SET tile_data=? WHERE zoom_level=2",
                     (bad,))
        conn.commit()
        conn.close()
    errors, _ = W.check_archive(read_all(path), path, kind, golden)
    assert any("2/1/2 does not decode" in e for e in errors), errors


def test_benchmark_json_lists_every_metric():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == bench.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} \
        == bench.per_layer_units()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_smoke_emits_every_metric_with_its_unit(workload, trace):
    """Tiny input (--scale 0.1) at a non-default seed: structural checks
    only; the run must pass them and emit every named metric."""
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
        env={**os.environ, "PYTHONPATH": ""})
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0, p.stderr[-3000:]
    want = (bench.END_TO_END if trace == 0 else
            {k: u for k, (u, _) in bench.per_layer_units().items()})
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float))
               for v in res["metrics"].values())
    if trace == 0:
        assert all(v["value"] > 0 for v in res["metrics"].values())
