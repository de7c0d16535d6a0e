"""bench.py's subprocess probes: a probe that dies says why on stderr
instead of silently dropping its metric."""

from __future__ import annotations

import subprocess

import pytest

import bench

_STDERR = "building sf1 tables\nstage 3 running\nKilled\n"


def _killed(*args, **kwargs):
    return subprocess.CompletedProcess(args[0], -9, stdout="", stderr=_STDERR)


def _timed_out(*args, **kwargs):
    raise subprocess.TimeoutExpired(args[0], kwargs["timeout"], stderr=_STDERR)


@pytest.mark.parametrize(
    "probe, name",
    [
        (bench.bench_core_sf1, "sf1 core-set probe"),
        (bench.bench_ingest_scale, "ingest_10x probe"),
        (bench.bench_ingest_concurrent, "concurrent probe"),
    ],
)
@pytest.mark.parametrize("run, why", [(_killed, "signal 9"), (_timed_out, "timeout")])
def test_failed_probe_prints_why(monkeypatch, capsys, probe, name, run, why):
    monkeypatch.setattr(subprocess, "run", run)
    assert probe("/nonexistent/sf0.1") is None
    err = capsys.readouterr().err
    assert (
        f"# {name} FAILED ({why}): building sf1 tables / stage 3 running / Killed"
        in err
    )


def test_probe_exit_without_result_line(monkeypatch, capsys):
    def no_result(*args, **kwargs):
        return subprocess.CompletedProcess(
            args[0], 1, stdout="starting\n", stderr="Traceback\nValueError: x\n"
        )

    monkeypatch.setattr(subprocess, "run", no_result)
    assert bench.bench_core_sf1("/nonexistent/sf0.1") is None
    assert (
        "# sf1 core-set probe FAILED (exit 1): Traceback / ValueError: x"
        in capsys.readouterr().err
    )


def test_probe_gates_cover_the_later_probes():
    t, g = bench._PROBE_TIMEOUT_S, bench._PROBE_GATE_S
    assert list(g) == ["concurrent", "ingest_10x", "ingest_100x", "sf1 core-set"]
    assert g["sf1 core-set"] == t["sf1 core-set"]
    assert g["ingest_100x"] == t["ingest_100x"] + g["sf1 core-set"]
    assert g["ingest_10x"] == t["ingest_10x"] + g["ingest_100x"]
    assert g["concurrent"] == t["concurrent"] + g["ingest_10x"]


def test_100x_probe_skipped_when_it_would_push_out_sf1(capsys):
    ran = []
    remaining = bench._PROBE_TIMEOUT_S["ingest_100x"] + 100  # 100x alone fits
    assert remaining < bench._PROBE_GATE_S["ingest_100x"]  # 100x + sf1 does not
    assert bench._gated_probe("ingest_100x", remaining, lambda: ran.append(1)) is None
    assert ran == []
    assert "# ingest_100x probe SKIPPED (wall budget)" in capsys.readouterr().err
    assert bench._gated_probe("sf1 core-set", remaining, lambda: "sf1") == "sf1"
    assert bench._gated_probe(
        "ingest_100x", bench._PROBE_GATE_S["ingest_100x"] + 1, lambda: "100x"
    ) == "100x"
