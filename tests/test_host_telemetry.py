"""Host CPU telemetry that perfbench prints on its ``host`` line."""

from __future__ import annotations

import os

import bench


def test_host_telemetry_keys():
    before = bench._cpu_sample()
    assert before is not None and len(before) == 8
    # An earlier sample by one jiffy per counter: a non-empty interval.
    out = bench.host_telemetry([v - 1 for v in before])
    assert set(out) == {
        "steal_pct", "user_pct", "idle_pct", "iowait_pct", "load1", "ncpu",
    }
    for k in ("steal_pct", "user_pct", "idle_pct", "iowait_pct"):
        assert 0.0 <= out[k] <= 100.0
    assert out["ncpu"] == os.cpu_count()
    assert set(bench.host_telemetry(None)) == {"load1", "ncpu"}
