"""Bench artifact naming (tools/artifacts.py), no Spark: a run with a
committed record's inputs writes that record; any other run, such as a
smoke run on a small data directory, writes a file named after the
inputs in which it differs from the default record."""

from __future__ import annotations

from tools.artifacts import ROOT, artifact_path, data_token

RECORDS = {
    "MERGEBENCH.json": ("sf1", "b256", "x1"),
    "MERGEBENCH_4096.json": ("sf0.1", "b4096", "x10"),
}


def name(run: tuple) -> str:
    path = artifact_path("MERGEBENCH", RECORDS, run)
    assert path.parent == ROOT
    return path.name


def test_recorded_inputs_name_their_record():
    assert name(("sf1", "b256", "x1")) == "MERGEBENCH.json"
    assert name(("sf0.1", "b4096", "x10")) == "MERGEBENCH_4096.json"


def test_other_inputs_never_name_a_record():
    assert name(("sf0.01", "b256", "x1")) == "MERGEBENCH_sf0.01.json"
    # a record's width at another scale is not that record
    assert name(("sf0.01", "b4096", "x10")) == "MERGEBENCH_sf0.01_b4096_x10.json"
    assert name(("sf1", "b16", "x1")) == "MERGEBENCH_b16.json"


def test_data_token():
    assert data_token("/data/sf0.01") == data_token("/data/sf0.01/") == "sf0.01"


def test_every_bench_tool_names_its_committed_records():
    """Each committed record a tool names exists at the repository
    root, and the tool routes its output through the helper."""
    import re

    for tool, stem in (
        ("mergebench", "MERGEBENCH"),
        ("skipbench", "SKIPBENCH"),
        ("occbench", "OCCBENCH"),
        ("gcbench", "GCBENCH"),
        ("replaybench", "STREAMBENCH"),
        ("manifestbench", "MANIFESTBENCH"),
        ("morreadbench", "MORREADBENCH"),
    ):
        src = (ROOT / "tools" / f"{tool}.py").read_text()
        assert "artifact_path(" in src, tool
        names = set(re.findall(rf'"({stem}(?:_\w+)?\.json)":', src))
        assert names, tool
        for name in names:
            assert (ROOT / name).exists(), (tool, name)
