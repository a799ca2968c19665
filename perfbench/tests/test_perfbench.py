"""Tests of the benchmark itself: input determinism, metric names, and a
short smoke run of each workload that must pass all of its checks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)

import city  # noqa: E402
import corpus  # noqa: E402
import run as runmod  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            path = os.path.join(dirpath, n)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def _city_files(tmp, seed: int) -> dict[str, bytes]:
    c = city.make_city(seed, 4, 4)
    seq = city.make_sequence(c, seed, [("catchup", 200), ("minutely", 20), ("minutely", 20)])
    os.makedirs(tmp)
    c.write_pbf(os.path.join(tmp, "city.pbf"))
    city.write_sequence(seq, os.path.join(tmp, "diff"))
    return _files(tmp)


def test_city_is_deterministic_in_the_seed(tmp_path):
    a = _city_files(str(tmp_path / "a"), 5)
    b = _city_files(str(tmp_path / "b"), 5)
    c = _city_files(str(tmp_path / "c"), 6)
    assert a == b
    assert a["city.pbf"] != c["city.pbf"]
    assert "diff/000/000/001.osc" in a and "diff/000/000/003.osc" in a


def test_pbf_coordinates_round_trip_bit_identical(tmp_path):
    # the fresh-import check relies on PBF decode and .osc parsing both
    # giving the generator's exact floats
    from imposm3_spark.sources.osm_xml import _read_xml, parse_osc_rows
    from imposm3_spark.sources.pbf import _decompress_blob, decode_primitive_block, scan_blobs

    c = city.make_city(9, 3, 3)
    path = str(tmp_path / "c.pbf")
    c.write_pbf(path)
    decoded = {}
    with open(path, "rb") as fh:
        for kind, off, size in scan_blobs(path):
            if kind == "OSMData":
                fh.seek(off)
                nodes, _, _ = decode_primitive_block(_decompress_blob(fh.read(size)))
                decoded.update({n[0]: (n[1], n[2]) for n in nodes})
    assert decoded == {i: (city.deg(x), city.deg(y)) for i, (x, y, _) in c.nodes.items()}

    seq = city.make_sequence(c, 9, [("minutely", 40)])
    city.write_sequence(seq, str(tmp_path / "d"))
    rows = parse_osc_rows(_read_xml(tmp_path / "d" / "000" / "000" / "001.osc"))
    final = seq.states[0].nodes
    moved = [r[3] for r in rows if r[2] == "node" and r[1] != "delete"]
    assert moved
    for nid, lon, lat, _, _ in moved:
        assert (lon, lat) == (city.deg(final[nid][0]), city.deg(final[nid][1]))


def test_corpus_is_deterministic_in_the_seed(tmp_path):
    def make(d, seed):
        corpus.write_corpus(
            workloads.DOCUMENTS, seed, 1, str(tmp_path / d / "corpus"), str(tmp_path / d / "eval.parquet")
        )
        return _files(str(tmp_path / d))

    a, b, c = make("a", 3), make("b", 3), make("c", 4)
    assert a == b
    assert a != c
    assert len([k for k in a if k.startswith("corpus")]) == corpus.FILES


def test_ngram_oracle():
    ev = ["a b c d e f g h i"]
    assert corpus.contaminated(["x a b c d e f g h y", "h g f e d c b a x"], ev) == 1


def test_metric_names():
    spec = _spec()
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    for name in e2e + layer + [w["name"] for w in spec["workloads"]]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert sorted(e2e) == sorted(runmod.END_TO_END)
    fake = SimpleNamespace(
        tracer=SimpleNamespace(spans=[], bookkeeping_s=0.0), traced_wall_s=0.0, overhead=[]
    )
    assert sorted([*workloads.layer_metrics(fake), "process.peak_rss_mb"]) == sorted(layer)
    assert sorted(spec["workloads"][i]["name"] for i in range(len(spec["workloads"]))) == sorted(
        workloads.WORKLOADS
    )


@pytest.mark.parametrize("workload,trace", [("osm", 0), ("curate", 1)])
def test_smoke_run_passes_its_checks(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "11", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout[-3000:]
    spec = _spec()
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert sorted(result["metrics"]) == sorted(names)
    for name in names:
        assert isinstance(result["metrics"][name]["value"], (int, float))
    if not trace:
        assert all(result["metrics"][n]["value"] > 0 for n in names)
    assert not any(line.startswith("check ") and "FAILED" in line for line in lines)
