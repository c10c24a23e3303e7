"""bench.py: one perfbench run per BENCHMARK.json workload, folded into one
JSON line (no Spark: the perfbench subprocesses are faked)."""

import json
import os
import subprocess

import pytest

import bench

METRICS = ("setup_s", "round_cpu_p50_s", "pages_per_cpu_s",
           "frontier_urls_per_cpu_s", "peak_rss_mb")


def _last_line(workload, failed):
    metrics = {m: {"value": float(i + 1) + (workload == "superstep_kernels"), "unit": "u"}
               for i, m in enumerate(METRICS)}
    return json.dumps({"correct": failed == 0, "attempted": 5, "failed": failed,
                       "metrics": metrics})


def _run_shim(monkeypatch, capsys, failed_by_workload):
    calls = []

    def fake_run(cmd, **kw):
        workload = cmd[cmd.index("--workload") + 1]
        calls.append(cmd)
        out = "report noise\n" + _last_line(workload, failed_by_workload[workload]) + "\n"
        return subprocess.CompletedProcess(cmd, 0, stdout=out)

    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    code = bench.main()
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 1
    return code, json.loads(lines[0]), calls


def test_one_line_with_every_workload(monkeypatch, capsys):
    code, out, calls = _run_shim(
        monkeypatch, capsys, {"crawl_multi_job": 0, "superstep_kernels": 0})
    assert code == 0
    assert (out["metric"], out["value"], out["unit"]) == ("round_cpu_p50_s", 2.0, "cpu_s")
    assert out["correct"] is True and out["failed"] == 0
    assert set(out["workloads"]) == {"crawl_multi_job", "superstep_kernels"}
    for metrics in out["workloads"].values():
        assert set(metrics) == set(METRICS)
    assert out["workloads"]["superstep_kernels"]["round_cpu_p50_s"] == 3.0
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for cmd in calls:
        assert cmd[:len(spec["command"])] == spec["command"]
        assert cmd[-6:] == ["--seed", "1", "--seconds", str(spec["run_seconds"]),
                            "--trace", "0"]


@pytest.mark.parametrize("failed,total", [
    ({"crawl_multi_job": 1, "superstep_kernels": 0}, 1),
    ({"crawl_multi_job": 0, "superstep_kernels": 1}, 1),
    ({"crawl_multi_job": 2, "superstep_kernels": 3}, 5),
])
def test_failed_checks_summed_and_exit_nonzero(monkeypatch, capsys, failed, total):
    code, out, _ = _run_shim(monkeypatch, capsys, failed)
    assert code != 0
    assert out["failed"] == total and out["correct"] is False


def test_crashed_run_exits_nonzero(monkeypatch, capsys):
    def fake_run(cmd, **kw):
        return subprocess.CompletedProcess(cmd, 1, stdout="")

    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    assert bench.main() != 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["correct"] is False and out["value"] is None
