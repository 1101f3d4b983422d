"""Bench tooling: the core-count label and the scaling tool's child
handling."""

from __future__ import annotations

import subprocess

import pytest

from spark_dns_spark.session import DEFAULT_CPUS, local_cpus
from tools import bench_cores_sf1


def test_local_cpus_falls_back_to_session_default(monkeypatch):
    # bench.py labels BENCH_DETAIL_c<cpus>.json with this value, so an
    # unset or blank variable must name the session's real core count
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == DEFAULT_CPUS == "32"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", " ")
    assert local_cpus() == DEFAULT_CPUS
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert local_cpus() == "4"


def _fake_child(monkeypatch, returncode: int, stdout: str, stderr: str):
    def run(args, **kwargs):
        return subprocess.CompletedProcess(args, returncode, stdout, stderr)

    monkeypatch.setattr(bench_cores_sf1.subprocess, "run", run)


@pytest.mark.parametrize(
    "returncode, stdout",
    [(1, ""), (1, '{"q": 1.0}\n'), (0, "")],
    ids=["crash", "crash-after-output", "no-output"],
)
def test_scale_child_failure_raises_with_stderr(monkeypatch, returncode, stdout):
    _fake_child(monkeypatch, returncode, stdout, "Traceback: boom")
    with pytest.raises(RuntimeError, match="boom"):
        bench_cores_sf1.run_level(8, "/nonexistent")


def test_scale_child_result_is_last_stdout_line(monkeypatch):
    _fake_child(monkeypatch, 0, 'noise\n{"q": 1.5}\n', "")
    assert bench_cores_sf1.run_level(8, "/nonexistent") == {"q": 1.5}
