"""tools/: the scripts on disk are the ones README's Layout block
names, each compiles, and tools/scale.py records seconds, bytes, exponents
and errors, with each query warmed up untimed first."""

from __future__ import annotations

import json
import re
from pathlib import Path
from types import SimpleNamespace

from tools import scale

REPO = Path(__file__).resolve().parents[1]


def test_tools_match_readme_layout_and_compile():
    readme = (REPO / "README.md").read_text()
    layout = readme.split("## Layout", 1)[1].split("```")[1]
    named = set(re.findall(r"^tools/(\w+\.py)", layout, re.M))
    on_disk = {p.name for p in (REPO / "tools").glob("*.py")}
    assert on_disk == named
    for name in sorted(on_disk):
        path = REPO / "tools" / name
        compile(path.read_text(), str(path), "exec")


def test_scale_records_seconds_exponents_and_errors(spark, sf_dir, tmp_path):
    # a second point over the same sf0.001 tables, and a point with no tables
    (tmp_path / "sf0.002").symlink_to(sf_dir)
    points = [sf_dir, str(tmp_path / "sf0.002"), str(tmp_path / "sf0.004")]
    names = ["cdc_operation_log", "cdc_latest_state"]
    out = tmp_path / "scale.json"
    assert scale.main([str(out), *points, *(a for n in names for a in ("-q", n))]) == 0
    record = json.loads(out.read_text())
    assert [p["sf"] for p in record["points"]] == [0.001, 0.002, 0.004]
    first, second, missing = record["points"]
    assert all(sorted(p["results"]) == sorted(names) for p in record["points"])
    for point in (first, second):
        assert (point["n_ok"], point["n_error"]) == (2, 0)
        assert all(t > 0 for t in point["results"].values())
    assert (missing["n_ok"], missing["n_error"]) == (0, 2)
    assert all(v.startswith("ERROR: ") for v in missing["results"].values())
    # every query's bytes, failed ones too; the latest state shuffles,
    # so the session wrote bytes while it ran
    for point in record["points"]:
        assert sorted(point["read_bytes"]) == sorted(point["written_bytes"]) == sorted(names)
        counts = [*point["read_bytes"].values(), *point["written_bytes"].values()]
        assert all(b >= 0 for b in counts)
    for point in (first, second):
        assert point["written_bytes"]["cdc_latest_state"] > 0
    timed, failed = record["pairs"]
    assert (timed["from"], timed["to"]) == (first["sf_dir"], second["sf_dir"])
    assert all(isinstance(x, float) for x in timed["exponents"].values())
    assert failed["exponents"] == {n: None for n in names}


def test_scale_runs_each_query_untimed_before_timing(tmp_path, monkeypatch):
    """A query's first call is cold (5 s on a fake clock, 1 s after it):
    the untimed warm-up at the first point takes it, so both points
    read 1 s and the exponent is 0, not negative."""
    clock, calls = [0.0], []

    def fake_query(name):
        def build(spark, sf_dir):
            def save():
                clock[0] += 1.0 if any(n == name for n, _ in calls) else 5.0
                calls.append((name, sf_dir))

            writer = SimpleNamespace(save=save)
            writer.mode = lambda _: writer
            return SimpleNamespace(write=SimpleNamespace(format=lambda _: writer))

        return build

    names = ["a", "b"]
    monkeypatch.setattr(scale, "QUERIES", {n: fake_query(n) for n in names})
    monkeypatch.setattr(scale, "time", SimpleNamespace(perf_counter=lambda: clock[0]))
    monkeypatch.setattr(
        scale, "get_spark",
        lambda _: SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None)),
    )
    out = tmp_path / "scale.json"
    points = ["/d/sf0.001", "/d/sf0.01"]
    assert scale.main([str(out), *points]) == 0
    timed = [(n, p) for p in points for n in names]
    assert calls == [(n, points[0]) for n in names] + timed
    record = json.loads(out.read_text())
    assert [p["results"] for p in record["points"]] == [{"a": 1.0, "b": 1.0}] * 2
    assert record["pairs"][0]["exponents"] == {"a": 0.0, "b": 0.0}
