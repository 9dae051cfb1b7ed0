"""The benchmark's own tests: toy-size (``--smoke``) runs of each
workload, checked against BENCHMARK.json's metric names, plus the
failure accounting and the input generator.

    python -m pytest perfbench/test_perfbench.py -q

Each Spark run takes about a minute (JVM start and worker warm-up
dominate at toy size)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(*args, cwd=ROOT, timeout=300):
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=timeout)
    return p


def _result(p) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _check_shape(res: dict, declared: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert set(res["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_end_to_end(workload):
    res = _result(_run("--workload", workload, "--seed", "3", "--seconds", "2",
                       "--trace", "0", "--smoke"))
    _check_shape(res, SPEC["end_to_end"])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_smoke_per_layer():
    res = _result(_run("--workload", "curation_mix", "--seed", "3", "--seconds", "2",
                       "--trace", "1", "--smoke"))
    _check_shape(res, SPEC["per_layer"])
    assert res["correct"] and res["failed"] == 0
    assert res["metrics"]["trace.coverage"]["value"] >= 0.9


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_wrong_expected_checksum_counts_as_failed(workload):
    res = _result(_run("--workload", workload, "--seed", "3", "--seconds", "2",
                       "--trace", "0", "--smoke", "--corrupt-truth"))
    assert not res["correct"]
    assert res["failed"] >= 1 and res["attempted"] >= res["failed"]
    _check_shape(res, SPEC["end_to_end"])


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "bulk", "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=tmp_path, timeout=60)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_generator_is_seeded_and_checksums_add_up():
    a, b, c = gen.generate(3000, 7), gen.generate(3000, 7), gen.generate(3000, 8)
    assert np.array_equal(a.flat, b.flat) and list(a.doc_id) == list(b.doc_id)
    assert not np.array_equal(a.n_tok, c.n_tok)
    assert a.flat.dtype == np.int32 and a.n_tok.min() >= 1
    assert len(set(a.doc_id)) == a.n_rows
    assert a.checksum() == gen.add_checksums(a.slice(0, 1234).checksum(),
                                             a.slice(1234, 3000).checksum())
    # the position-weighted sum sees a swap inside a row
    flat = a.flat.copy()
    o = a.offsets
    flat[o[3]], flat[o[3] + 1] = flat[o[3] + 1], flat[o[3]]
    assert gen.checksum(flat, o)["wsum"] != a.checksum()["wsum"]
    # the sliced computation matches the definition, row by row
    s = a.slice(100, 160)
    rows = [s.flat[s.offsets[i]:s.offsets[i + 1]].tolist() for i in range(s.n_rows)]
    assert s.checksum()["sum"] == sum(map(sum, rows)) % 2**64
    assert s.checksum()["wsum"] == sum(
        v * (k + 1) for r in rows for k, v in enumerate(r)) % 2**64
    # pinned F1 edge rows
    assert a.n_tok[0] == 1 and (a.flat[o[2]:o[3]] == 2**31 - 1).all()
