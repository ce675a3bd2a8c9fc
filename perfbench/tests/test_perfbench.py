"""Self-tests of the benchmark (no Spark session needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, run, sparkstats  # noqa: E402
from perfbench.trace import Span, Tracer, load, self_time  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _tree_digest(d: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(p for p in d.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(d)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_differs(workload, tmp_path):
    a = gen.stage(workload, 7, tmp_path / "a")
    b = gen.stage(workload, 7, tmp_path / "b")
    c = gen.stage(workload, 8, tmp_path / "c")
    assert _tree_digest(a) == _tree_digest(b)
    assert _tree_digest(a) != _tree_digest(c)


def test_stage_reuses_cached_inputs(tmp_path):
    a = gen.stage("vector_dedup", 3, tmp_path)
    stamp = (a / "meta.json").stat().st_mtime_ns
    assert gen.stage("vector_dedup", 3, tmp_path) == a
    assert (a / "meta.json").stat().st_mtime_ns == stamp


def test_self_time_is_duration_minus_child_coverage():
    parent = Span(0, "p", 0.0, 10.0, None, "r")
    kids = [
        Span(1, "a", 1.0, 3.0, 0, "r"),
        Span(2, "b", 2.0, 4.0, 0, "r"),  # overlaps a: union 1..4
        Span(3, "c", 6.0, 7.0, 0, "r"),
        Span(4, "d", 9.0, 12.0, 0, "r"),  # clipped to the parent's end
        Span(5, "g", 6.5, 6.8, 3, "r"),  # grandchild: not the parent's
    ]
    spans = [parent, *kids]
    assert self_time(parent, spans) == pytest.approx(10.0 - (3.0 + 1.0 + 1.0))
    assert self_time(kids[2], spans) == pytest.approx(1.0 - 0.3)
    assert self_time(kids[0], spans) == pytest.approx(2.0)


def test_tracer_nests_and_trace_file_round_trips(tmp_path):
    tr = Tracer("run-1")
    with tr.span("outer") as o:
        with tr.span("inner") as i:
            i.counts["rows"] = 3
    assert [s.parent for s in tr.spans] == [None, o.id]
    assert o.start <= i.start <= i.end <= o.end
    path = tmp_path / "t.json"
    tr.write(path, meta={"seed": 1})
    assert load(path) == tr.spans
    assert json.loads(path.read_text())["meta"] == {"seed": 1}


def test_run_time_takes_out_the_stolen_share_only():
    assert run.Repeat(2.0, 5.0, 0.25, True).run_s == pytest.approx(1.5)
    assert run.Repeat(2.0, 5.0, 0.0, True).run_s == 2.0
    tick = sparkstats._TICK
    before = {"cpu0": (0, 0), "cpu1": (0, 0), "cpu2": (0, 0)}
    after = {
        "cpu0": (8 * tick, 2 * tick),  # busy for all 10 s, 20% stolen
        "cpu1": (4 * tick, 0),  # busy for 4 s, nothing stolen
        "cpu2": (tick // 10, tick // 10),  # nearly idle: left out
    }
    assert sparkstats.stolen_share(before, after, 10.0) == pytest.approx(0.2)
    assert set(sparkstats.cpu_ticks()) == {f"cpu{c}" for c in os.sched_getaffinity(0)}


def test_metric_names_and_units_are_valid():
    spec = run.per_layer_spec()
    names = list(spec) + list(run.END_TO_END)
    assert len(names) == len(set(names))
    for n in names:
        assert NAME_RE.match(n), n
    for unit, better in spec.values():
        assert UNIT_RE.match(unit) and better in ("higher", "lower")
    for unit in run.END_TO_END.values():
        assert UNIT_RE.match(unit)


def test_benchmark_json_matches_the_code():
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(doc) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in doc["per_layer"]} == run.per_layer_spec()
    assert {w["name"] for w in doc["workloads"]} <= set(run.WORKLOAD_NAMES)
    for m in doc["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_bulk",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""
