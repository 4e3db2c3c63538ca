"""Bench and tool entry points: bench.py's argument parser rejects bad
input before any Spark session starts, its ANN-recall section raises
when a tier fails, and every script under tools/ (plus bench.py)
imports cleanly, so a helper deleted from one tool that another still
imports fails here instead of at the next measurement."""

from __future__ import annotations

import glob
import importlib.util
import os

import pytest

import bench
from data_quality_checker_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    os.path.relpath(p, REPO)
    for p in [os.path.join(REPO, "bench.py"), *glob.glob(os.path.join(REPO, "tools", "*.py"))]
)


@pytest.mark.parametrize(
    "argv", [["--skip"], ["--skip", "not_a_query"]], ids=["missing_value", "unknown_name"]
)
def test_bench_usage_error_before_spark(argv, monkeypatch):
    def no_spark(*_a, **_k):
        raise AssertionError("Spark started before the usage error")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        bench.main(argv)
    assert exc.value.code == 2


def test_bench_skip_names_are_bench_queries():
    args = bench._parse_args(["--cold-only", "--skip", "ann_ivfpq_topk,ann_topk"])
    assert args.cold_only
    assert args.skip == ["ann_ivfpq_topk", "ann_topk"]
    assert not bench._parse_args([]).cold_only


def test_ann_recall_raises_when_a_tier_fails():
    """A failing approximate tier fails the recall section instead of
    vanishing from it as a missing key."""

    class Rows:
        def collect(self):
            return [{"query_id": 0, "neighbor_id": 1}]

    def broken(_spark, _sf_dir):
        raise RuntimeError("index probe failed")

    qs = {"ann_topk": lambda _spark, _sf_dir: Rows(), "ann_ivfpq_topk": broken}
    with pytest.raises(RuntimeError, match="index probe failed"):
        bench._ann_recall(None, qs, "sf0.01")


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_imports(script):
    name = "_script_" + os.path.splitext(os.path.basename(script))[0]
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, script))
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
