"""tools/battery.py records a run of named rungs without erasing the
other rungs' results (no Spark)."""

from __future__ import annotations

import json

from tools.battery import record


def test_named_rungs_update_only_their_entries(tmp_path):
    path = tmp_path / "BATTERY.json"
    path.write_text(json.dumps({
        "1_pytest": {"ok": True, "detail": "402 passed", "wall_s": 1.0},
        "5_dedup_laws": {"ok": False, "detail": "crashed", "wall_s": 2.0},
        "loadavg_1m": 7.0,
    }))
    out = record(str(path), {
        "5_dedup_laws": {"ok": True, "detail": "8/8 OK-LAWS", "wall_s": 3.0},
        "loadavg_1m": 1.5,
    })
    assert json.loads(path.read_text()) == out == {
        "1_pytest": {"ok": True, "detail": "402 passed", "wall_s": 1.0},
        "5_dedup_laws": {"ok": True, "detail": "8/8 OK-LAWS", "wall_s": 3.0},
        "loadavg_1m": 1.5,
    }


def test_first_run_creates_the_file(tmp_path):
    path = tmp_path / "BATTERY.json"
    record(str(path), {"6_dedup_trip_selftest": {"ok": True}})
    assert json.loads(path.read_text()) == {"6_dedup_trip_selftest": {"ok": True}}
