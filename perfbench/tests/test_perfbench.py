"""Tests of the benchmark's own code: python3 -m pytest -p no:cacheprovider perfbench/tests"""

import json
import os
import random
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import digest  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture
def fake_testdata(tmp_path):
    """Stand-in fixtures: the generator only copies parquet bytes."""
    root = tmp_path / "testdata"
    for sf in ("sf0.01", "sf0.1"):
        (root / sf).mkdir(parents=True)
        for t in ("lineitem", "orders", "part", "supplier"):
            (root / sf / (t + ".parquet")).write_bytes(b"PAR1" + t.encode() + b"PAR1")
    return root


def tree(d):
    return {str(p.relative_to(d)): p.read_bytes() for p in sorted(Path(d).rglob("*")) if p.is_file()}


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_generator_is_deterministic_per_seed(workload, fake_testdata, tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    workloads.generate(workload, 7, a, fake_testdata)
    workloads.generate(workload, 7, b, fake_testdata)
    workloads.generate(workload, 8, c, fake_testdata)
    assert tree(a) == tree(b)
    assert tree(a) != tree(c)
    config = json.loads((a / "config.json").read_text())
    assert config["parameters"]["blocks"] and config["storage"]["output"]["tables"]


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_seed_changes_layout_not_content(workload, fake_testdata, tmp_path):
    """Different seeds give the same scripts and the same CSV rows."""
    def content(d):
        config = json.loads((d / "config.json").read_text())
        scripts = sorted((b["name"], c["name"], c["script"][0])
                         for b in config["parameters"]["blocks"] for c in b["codes"])
        rows, manifests = [], {}
        for p in (d / "in" / "tables").rglob("*"):
            if p.suffix == ".manifest":
                manifests[p.name] = p.read_text()
            elif p.is_file() and p.suffix != ".parquet":
                lines = p.read_text().splitlines()
                # files directly in in/tables carry a header; slices do not
                rows += lines[1:] if p.parent.name == "tables" else lines
        return scripts, sorted(rows), manifests

    workloads.generate(workload, 1, tmp_path / "a", fake_testdata)
    workloads.generate(workload, 2, tmp_path / "b", fake_testdata)
    assert content(tmp_path / "a") == content(tmp_path / "b")


def write_csv(path, header, rows):
    path.write_text(header + "\n" + "".join(r + "\n" for r in rows))


def test_csv_digest_ignores_row_order(tmp_path):
    rows = ['"%d","name %d","x,y"' % (i, i) for i in range(200)] + ['"200","multi\nline"']
    write_csv(tmp_path / "a", '"k","v","w"', rows)
    shuffled = rows[:]
    random.Random(1).shuffle(shuffled)
    write_csv(tmp_path / "b", '"k","v","w"', shuffled)
    assert digest.csv_digest(tmp_path / "a") == digest.csv_digest(tmp_path / "b")
    assert digest.csv_digest(tmp_path / "a")[0] == 201


def test_csv_digest_sees_one_changed_cell(tmp_path):
    rows = ['"%d","name %d"' % (i, i) for i in range(200)]
    write_csv(tmp_path / "a", '"k","v"', rows)
    changed = rows[:]
    changed[117] = '"117","name 118"'
    write_csv(tmp_path / "b", '"k","v"', changed)
    assert digest.csv_digest(tmp_path / "a") != digest.csv_digest(tmp_path / "b")
    write_csv(tmp_path / "c", '"v","k"', rows)  # header order matters
    assert digest.csv_digest(tmp_path / "a") != digest.csv_digest(tmp_path / "c")


def test_outputs_digest_covers_manifests(tmp_path):
    t = tmp_path / "out" / "tables"
    t.mkdir(parents=True)
    write_csv(t / "x", '"a"', ['"1"'])
    (t / "x.manifest").write_text('{"destination": "out.x"}')
    before = digest.outputs_digest(tmp_path)[0]
    (t / "x.manifest").write_text('{"destination": "out.y"}')
    assert digest.outputs_digest(tmp_path)[0] != before


def test_thrift_compact_reader():
    # struct {1: i32 -3, 2: binary "ab", 4: list<i64> [1, 300], 5: struct {1: true}}
    buf = bytes([0x15, 0x05, 0x18, 0x02]) + b"ab" + bytes(
        [0x29, 0x26, 0x02, 0xD8, 0x04, 0x1C, 0x11, 0x00, 0x00])
    assert digest._Compact(buf).struct() == {1: -3, 2: b"ab", 4: [1, 300], 5: {1: True}}


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer = {m["name"]: m for m in spec["per_layer"]}
    assert {k: m["unit"] for k, m in e2e.items()} == run.END_TO_END
    assert {k: m["unit"] for k, m in layer.items()} == run.PER_LAYER
    names = list(e2e) + list(layer) + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in list(e2e.values()) + list(layer.values()):
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in e2e.values():
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)
    assert spec["paths"] == ["perfbench"]


def test_fails_without_result_outside_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("target", "__pycache__", "project"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "many_scripts",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60,
                       env=dict(os.environ, SPARK_GRAFT_TESTDATA=str(tmp_path / "none")))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
