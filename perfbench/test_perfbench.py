"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench -q

The last test starts Spark twice per workload (about four minutes on 4 cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, run, workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate(out: str, seed: int) -> str:
    rng = np.random.default_rng(seed)
    os.makedirs(out)
    gen.write_articles(rng, os.path.join(out, "articles.jsonl"), 300)
    gen.write_quartiles(rng, os.path.join(out, "quartiles.jsonl"))
    gen.write_tables(rng, os.path.join(out, "tables"), 1500)
    gen.write_corpus(rng, os.path.join(out, "corpus"), 40, 20, 3)
    return _digest(out)


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (_generate(str(tmp_path / name), seed)
               for name, seed in (("a", 7), ("b", 7), ("c", 8)))
    assert a == b
    assert a != c


def _declared(kind: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return [m["name"] for m in json.load(fh)[kind]]


class _NoSpans:
    spans: list = []


class _Workload:
    input_bytes = 1

    def output_bytes(self) -> int:
        return 0


def test_metric_names_match_declared_lists():
    op = workloads.Op("x")
    op.seconds = 1.0
    e2e = run._end_to_end([1.0], [[op]])
    layer = run._per_layer(_Workload(), _NoSpans(), [[op]], [[0.0, 0.0, 0.0]], 1.0)
    for names, kind in ((e2e, "end_to_end"), (layer, "per_layer")):
        assert all(NAME.match(n) for n in names)
        assert list(names) == _declared(kind)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        assert [w["name"] for w in json.load(fh)["workloads"]] == list(workloads.WORKLOADS)


COUNT = re.compile(r"\.(jobs|build_jobs|exec_jobs|stages|tasks|input_bytes)$")


@pytest.mark.parametrize("workload", ["warehouse_build", "analyst_session"])
def test_count_metrics_repeat_across_traced_runs(workload):
    def traced():
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
             "--seconds", "1", "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
        ).stdout.strip().splitlines()[-1]
        metrics = json.loads(out)["metrics"]
        return {k: v["value"] for k, v in metrics.items() if COUNT.search(k)}

    first, second = traced(), traced()
    assert any(first.values())
    assert first == second
